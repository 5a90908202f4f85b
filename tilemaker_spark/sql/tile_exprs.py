"""Tile math as Catalyst Column expressions — the JVM-side fast path.

Every function here returns a ``pyspark.sql.Column`` built purely from
``pyspark.sql.functions`` (whole-stage-codegen friendly, no Python UDFs),
plus a parallel ``*_sql`` string template in ANSI SQL so the same formula
can run in DuckDB for oracle checks.  The numpy ground truth lives in
``tilemaker_spark.kernels.proj`` (unit tests assert expr == kernel).

Formulas mirror the reference engine (/root/reference/src/coordinates.cpp):
latp = deg(ln(tan(rad(clamp(lat, 85.06) + 90)/2)));
tile x = floor((lon+180)/360 * 2^z);  tile y = floor((180-latp)/360 * 2^z).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

CLAMP_LAT = 85.06
MAX_LAT = 85.0511
RADIUS_METER = 6371000.0


def _clamp(c: Column, lo: float, hi: float) -> Column:
    return F.least(F.greatest(c, F.lit(float(lo))), F.lit(float(hi)))


def lat2latp(lat: Column) -> Column:
    lat = _clamp(lat, -CLAMP_LAT, CLAMP_LAT)
    return F.degrees(F.log(F.tan(F.radians((lat + F.lit(90.0)) / F.lit(2.0)))))


def lat2latp_sql(lat: str) -> str:
    return (
        f"degrees(ln(tan(radians((least(greatest({lat}, -85.06), 85.06)"
        f" + 90.0) / 2.0))))"
    )


def lon2tilex(lon: Column, z: int) -> Column:
    return F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(float(2 ** z))).cast(
        "long"
    )


def lon2tilex_sql(lon: str, z: int) -> str:
    return f"cast(floor(({lon} + 180.0) / 360.0 * {float(2 ** z)}) as bigint)"


def lat2tiley(lat: Column, z: int) -> Column:
    return F.floor(
        (F.lit(180.0) - lat2latp(lat)) / F.lit(360.0) * F.lit(float(2 ** z))
    ).cast("long")


def lat2tiley_sql(lat: str, z: int) -> str:
    return (
        f"cast(floor((180.0 - {lat2latp_sql(lat)}) / 360.0 * {float(2 ** z)})"
        f" as bigint)"
    )


def tile_id(z: int, x: Column, y: Column) -> Column:
    """Pack (z, x, y) into one int64 (same layout as kernels.proj.tile_id)."""
    return (F.lit(1 << (2 * z)) + x * F.lit(1 << z) + y).cast("long")


def tile_id_sql(z: int, x: str, y: str) -> str:
    return f"cast({1 << (2 * z)} + {x} * {1 << z} + {y} as bigint)"


def cell_id(lon: Column, lat: Column, cell_zoom: int = 6) -> Column:
    """Coarse-cell id (H3-coarse analogue, CLUSTER_ZOOM=6), clamped in range."""
    m = (1 << cell_zoom) - 1
    x = _clamp(lon2tilex(lon, cell_zoom).cast("double"), 0, m).cast("long")
    y = _clamp(
        lat2tiley(_clamp(lat, -MAX_LAT, MAX_LAT), cell_zoom).cast("double"), 0, m
    ).cast("long")
    return tile_id(cell_zoom, x, y)


def cell_id_sql(lon: str, lat: str, cell_zoom: int = 6) -> str:
    m = (1 << cell_zoom) - 1
    lat_c = f"least(greatest({lat}, -85.0511), 85.0511)"
    x = f"least(greatest({lon2tilex_sql(lon, cell_zoom)}, 0), {m})"
    y = f"least(greatest({lat2tiley_sql(lat_c, cell_zoom)}, 0), {m})"
    return tile_id_sql(cell_zoom, x, y)


def zorder_encode(v: Column) -> Column:
    """Reference ZOrder compression (include/output_object.h:54-62)."""
    pos = F.sqrt((v - F.lit(1000.0)) * F.lit(10.0)) + F.lit(10000.0)
    neg = F.lit(-10000.0) - F.sqrt((F.abs(v) - F.lit(1000.0)) * F.lit(10.0))
    raw = F.when(v > 1000.0, pos).when(v < -1000.0, neg).otherwise(v * F.lit(10.0))
    return F.when(
        F.isnan(raw) | (raw == F.lit(float("inf"))) | (raw == F.lit(float("-inf"))),
        F.lit(0),
    ).otherwise(F.floor(raw)).cast("long")


def zorder_encode_sql(v: str) -> str:
    return (
        f"cast(floor(case when {v} > 1000.0 then sqrt(({v} - 1000.0) * 10.0)"
        f" + 10000.0 when {v} < -1000.0 then -10000.0 - sqrt((abs({v})"
        f" - 1000.0) * 10.0) else {v} * 10.0 end) as bigint)"
    )


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle meters on R=6371000 (reference Length() strategy)."""
    rl1, rp1 = F.radians(lon1), F.radians(lat1)
    rl2, rp2 = F.radians(lon2), F.radians(lat2)
    a = (
        F.pow(F.sin((rp2 - rp1) / 2), 2)
        + F.cos(rp1) * F.cos(rp2) * F.pow(F.sin((rl2 - rl1) / 2), 2)
    )
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))
    return F.lit(2.0 * RADIUS_METER) * F.asin(F.sqrt(a))


def haversine_m_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    a = (
        f"(pow(sin((radians({lat2}) - radians({lat1})) / 2), 2)"
        f" + cos(radians({lat1})) * cos(radians({lat2}))"
        f" * pow(sin((radians({lon2}) - radians({lon1})) / 2), 2))"
    )
    return f"(2.0 * {RADIUS_METER} * asin(sqrt(least(greatest({a}, 0.0), 1.0))))"


def box_area_sq_m(minlon: Column, minlat: Column, maxlon: Column,
                  maxlat: Column) -> Column:
    """Spherical area of a lon/lat box by the Chamberlain–Duquette edge
    discretization over its 4 corners (the reference's spherical Area(),
    src/osm_lua_processing.cpp:529-590): |sum (lam2-lam1) * (2 + sin(phi1)
    + sin(phi2))| * R^2 / 2 simplifies to |dlam * (sin(maxlat) -
    sin(minlat))| * R^2 for a box."""
    dlam = F.radians(maxlon - minlon)
    return (
        F.abs(dlam * (F.sin(F.radians(maxlat)) - F.sin(F.radians(minlat))))
        * F.lit(RADIUS_METER * RADIUS_METER)
    )


def box_area_sq_m_sql(minlon: str, minlat: str, maxlon: str, maxlat: str) -> str:
    return (
        f"(abs(radians({maxlon} - {minlon}) * (sin(radians({maxlat}))"
        f" - sin(radians({minlat})))) * {RADIUS_METER * RADIUS_METER})"
    )


# --- hexagonal cell index (the H3-style analogue) --------------------------
# The BASELINE north star keys tables by "H3/S2 cells"; real H3 is a geodesic
# icosahedral grid, so the honest from-scratch analogue here is a pointy-top
# axial hex grid on the (lon, latp) Mercator-degree plane: near-uniform cell
# area away from the poles, 6-neighbor adjacency, one compact int64 key.
# Axial coords + cube rounding per the canonical formulation (Red Blob Games,
# "Hexagonal Grids").  Pure Catalyst expressions — zero UDF, codegen-able —
# with an exactly-mirrored SQL twin (same literals, same op order, floor-based
# rounding) so DuckDB reproduces the ids bit-for-bit.

SQRT3_3 = 0.5773502691896258  # sqrt(3)/3
_HEX_OFF = 1 << 20            # axial offset so the packed id is non-negative


def hex_size_deg(res: int) -> float:
    """Hex circumradius in projected degrees at resolution ``res``
    (halves every level, like H3's ~sqrt(7) aperture in spirit)."""
    return 360.0 / float(1 << res)


def hex_cell_id(lon: Column, lat: Column, res: int = 6) -> Column:
    """Pack the cube-rounded axial hex coordinates of a point into one
    int64: (q + 2^20) * 2^21 + (r + 2^20)."""
    size = hex_size_deg(res)
    x = lon.cast("double")
    y = lat2latp(lat)
    q = (F.lit(SQRT3_3) * x - y / F.lit(3.0)) / F.lit(size)
    r = y * F.lit(2.0) / F.lit(3.0) / F.lit(size)
    cy = -q - r
    rx = F.floor(q + F.lit(0.5))
    ry = F.floor(cy + F.lit(0.5))
    rz = F.floor(r + F.lit(0.5))
    dx, dy, dz = F.abs(rx - q), F.abs(ry - cy), F.abs(rz - r)
    first = (dx > dy) & (dx > dz)
    fq = F.when(first, -ry - rz).otherwise(rx)
    fr = F.when(first | (dy > dz), rz).otherwise(-rx - ry)
    return ((fq + F.lit(_HEX_OFF)) * F.lit(2 * _HEX_OFF)
            + (fr + F.lit(_HEX_OFF))).cast("long")


def hex_cell_unpack(cell: Column) -> tuple[Column, Column]:
    """(q, r) axial coordinates back out of a packed hex cell id."""
    q = F.floor(cell / F.lit(2 * _HEX_OFF)) - F.lit(_HEX_OFF)
    r = cell % F.lit(2 * _HEX_OFF) - F.lit(_HEX_OFF)
    return q.cast("long"), r.cast("long")


def hex_cell_sql_ctes(lon: str, lat: str, source: str, res: int = 6) -> str:
    """DuckDB twin of :func:`hex_cell_id` as a CTE chain ``... , hexfin AS
    (SELECT *, cell ...)`` over ``source`` (a table or CTE exposing the
    given lon/lat expressions); compose with ``WITH {ctes} SELECT ...
    FROM hexfin``.  Mirrors the Spark literals and op order exactly."""
    size = repr(hex_size_deg(res))
    y = lat2latp_sql(lat)
    return f"""hexax AS (
  SELECT *,
         (({SQRT3_3!r} * ({lon}) - ({y}) / 3.0) / {size}) AS hq,
         (({y}) * 2.0 / 3.0 / {size}) AS hr
  FROM {source}
), hexrnd AS (
  SELECT *, (-hq - hr) AS hy,
         floor(hq + 0.5) AS rx, floor(-hq - hr + 0.5) AS ry,
         floor(hr + 0.5) AS rz
  FROM hexax
), hexdif AS (
  SELECT *, abs(rx - hq) AS dx, abs(ry - hy) AS dy, abs(rz - hr) AS dz
  FROM hexrnd
), hexfin AS (
  SELECT *,
         CAST(((CASE WHEN dx > dy AND dx > dz THEN -ry - rz ELSE rx END)
               + {_HEX_OFF}) * {2 * _HEX_OFF}
              + ((CASE WHEN (dx > dy AND dx > dz) OR dy > dz THEN rz
                       ELSE -rx - ry END) + {_HEX_OFF}) AS BIGINT) AS cell
  FROM hexdif
)"""


def quadkey(x: Column, y: Column, z: int) -> Column:
    """Bing-maps quadkey for tile (x, y) at zoom ``z`` — the string
    tile key whose PREFIX property (a parent tile's key is a prefix of
    all its children's) turns pyramid queries into range scans on a
    lexicographically-sorted layout (the same trick the PMTiles
    Hilbert ordering and the Z-order layout exploit numerically).
    Digit l (1-based, coarse to fine) is
    ``2·((y >> (z-l)) & 1) + ((x >> (z-l)) & 1)``.

    Pure Catalyst (transform over a constant sequence + array_join,
    whole-stage codegen, zero UDF) with a character-identical DuckDB
    twin in :func:`quadkey_sql`."""
    digits = F.transform(
        F.sequence(F.lit(1), F.lit(z)),
        lambda l: (
            F.bit_get(y, F.lit(z) - l) * 2 + F.bit_get(x, F.lit(z) - l)
        ).cast("string"))
    return F.array_join(digits, "")


def quadkey_sql(x: str, y: str, z: int) -> str:
    """DuckDB twin of :func:`quadkey` — identical bit math, identical
    digit order."""
    return (
        f"array_to_string(list_transform(generate_series(1, {z}), l -> "
        f"CAST(2 * (({y} >> ({z} - l)) & 1)"
        f" + (({x} >> ({z} - l)) & 1) AS varchar)), '')"
    )


GEOHASH_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon: Column, lat: Column, precision: int = 7) -> Column:
    """Classic geohash (Niemeyer 2008) at ``precision`` base-32 chars
    — the third standard spatial index next to the slippy z/x/y tile
    (:func:`lon2tilex`) and the hex cell (:func:`hex_cell_id`): bits
    alternate longitude/latitude (lon first) and every 5 bits map to
    one char of the base-32 alphabet, so — like the quadkey — an
    ancestor cell's hash is a prefix of every descendant's and
    proximity queries become string-prefix scans.

    Pure Catalyst: the two ordinates quantize with the same
    floor(double) arithmetic both engines round identically (the
    proven lon2tilex pattern); each output char's 5-bit value folds
    directly from the interleaved bit stream (interleaved bit ``i`` is
    lon bit ``i//2`` for even ``i``, lat bit ``(i-1)//2`` for odd,
    both indexed from the MSB); chars slice out of the alphabet with
    ``substring`` — zero UDF, whole-stage codegen.  DuckDB twin:
    :func:`geohash_sql`."""
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    lon_i = F.floor((lon + F.lit(180.0)) / F.lit(360.0)
                    * F.lit(float(2 ** n_lon))).cast("long")
    lat_i = F.floor((lat + F.lit(90.0)) / F.lit(180.0)
                    * F.lit(float(2 ** n_lat))).cast("long")

    def bit(i):
        # interleaved bit i (0 = MSB of the stream), lon first
        return F.when(
            i % 2 == 0,
            F.bit_get(lon_i, F.lit(n_lon - 1) - (i / 2).cast("int")),
        ).otherwise(
            F.bit_get(lat_i, F.lit(n_lat - 1) - ((i - 1) / 2).cast("int"))
        ).cast("int")

    chars = F.transform(
        F.sequence(F.lit(0), F.lit(precision - 1)),
        lambda k: F.substring(
            F.lit(GEOHASH_B32),
            (F.aggregate(
                F.sequence(F.lit(0), F.lit(4)),
                F.lit(0),
                lambda acc, t: acc * 2 + bit(k * 5 + t)) + 1),
            1))
    return F.array_join(chars, "")


def geohash_sql(lon: str, lat: str, precision: int = 7) -> str:
    """DuckDB twin of :func:`geohash` — identical quantization, bit
    interleave, and alphabet slicing."""
    bits = 5 * precision
    n_lon = (bits + 1) // 2
    n_lat = bits // 2
    lon_i = (f"cast(floor(({lon} + 180.0) / 360.0 * {float(2 ** n_lon)})"
             f" as bigint)")
    lat_i = (f"cast(floor(({lat} + 90.0) / 180.0 * {float(2 ** n_lat)})"
             f" as bigint)")
    ib = (f"list_aggregate(list_transform(generate_series(0, {bits - 1}),"
          f" i -> CASE WHEN i % 2 = 0"
          f" THEN (({lon_i} >> ({n_lon - 1} - i // 2)) & 1)"
          f"     * (1::BIGINT << ({bits - 1} - i))"
          f" ELSE (({lat_i} >> ({n_lat - 1} - (i - 1) // 2)) & 1)"
          f"     * (1::BIGINT << ({bits - 1} - i)) END), 'sum')")
    return (f"array_to_string(list_transform("
            f"generate_series(0, {precision - 1}), k -> "
            f"substring('{GEOHASH_B32}',"
            f" CAST((({ib}) >> (5 * ({precision - 1} - k))) % 32 + 1"
            f" AS int), 1)), '')")


def hilbert_d(x: Column, y: Column, z: int) -> Column:
    """Position of tile (x, y) on the z-level Hilbert curve — the SAME
    public xy2d algorithm as sinks/pmtiles.hilbert_d (the archive's
    physical tile order; reference `src/pmtiles.cpp:16-173` orders its
    directories this way), but as a pure Catalyst expression: one
    ``F.aggregate`` fold over the z bit levels carrying a (x, y, d)
    struct accumulator, so the expression stays LINEAR in z (no 2^z
    conditional blow-up), zero UDF, whole-stage codegen.  Use it to
    ORDER BY / range-partition a tile table into the curve order —
    Hilbert preserves locality strictly better than Z-order (no long
    diagonal jumps), which is why PMTiles picked it."""
    n = 1 << z
    svals = F.array(*[F.lit(1 << i).cast("long")
                      for i in range(z - 1, -1, -1)])
    init = F.struct(x.cast("long").alias("x"), y.cast("long").alias("y"),
                    F.lit(0).cast("long").alias("d"))

    def step(acc, s):
        rx = F.when(acc["x"].bitwiseAND(s) > 0, F.lit(1).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        ry = F.when(acc["y"].bitwiseAND(s) > 0, F.lit(1).cast("long")) \
            .otherwise(F.lit(0).cast("long"))
        d2 = acc["d"] + s * s * (rx * 3).bitwiseXOR(ry)
        x2 = F.when(ry == 0,
                    F.when(rx == 1, F.lit(n - 1) - acc["y"])
                    .otherwise(acc["y"])).otherwise(acc["x"])
        y2 = F.when(ry == 0,
                    F.when(rx == 1, F.lit(n - 1) - acc["x"])
                    .otherwise(acc["x"])).otherwise(acc["y"])
        return F.struct(x2.alias("x"), y2.alias("y"), d2.alias("d"))

    return F.aggregate(svals, init, step)["d"]


def hilbert_sql_rec_cte(tiles_cte: str, z: int,
                        x: str = "x", y: str = "y") -> str:
    """DuckDB recursive-CTE twin of :func:`hilbert_d`: iterates the
    identical per-bit-level state update over rows of ``tiles_cte``
    (which must expose integer columns ``x``/``y``), yielding
    (x0, y0, hilbert).  Embed inside a ``WITH RECURSIVE``."""
    n = 1 << z
    rx = f"(({x} >> i) & 1)"
    ry = f"(({y} >> i) & 1)"
    return f"""
hrec AS (
  SELECT {x} AS x0, {y} AS y0,
         CAST({x} AS BIGINT) AS {x}, CAST({y} AS BIGINT) AS {y},
         CAST(0 AS BIGINT) AS d, {z - 1} AS i
  FROM {tiles_cte}
  UNION ALL
  SELECT x0, y0,
         CASE WHEN {ry} = 0
              THEN CASE WHEN {rx} = 1 THEN {n - 1} - {y} ELSE {y} END
              ELSE {x} END,
         CASE WHEN {ry} = 0
              THEN CASE WHEN {rx} = 1 THEN {n - 1} - {x} ELSE {x} END
              ELSE {y} END,
         d + CAST((1::BIGINT << i) AS BIGINT) * (1::BIGINT << i)
             * xor(3 * {rx}, {ry}),
         i - 1
  FROM hrec WHERE i >= 0
),
hfin AS (SELECT x0, y0, d AS hilbert FROM hrec WHERE i = -1)"""


# ---------------------------------------------------------------------------
# S2-analogue cell index (cube face + per-face Hilbert).
#
# The BASELINE north star keys tables by "H3/S2 cells"; hex_cell_id above is
# the H3 analogue, this is the S2 one: project the point onto the unit
# sphere, pick the dominant axis (one of 6 cube faces, S2's face numbering:
# 0 +x, 1 +y, 2 +z, 3 -x, 4 -y, 5 -z), gnomonic (u, v) in [-1, 1] via the
# standard XYZ-to-face-UV component ratios, LINEAR st transform (S2's
# S2_LINEAR_PROJECTION flavor — the quadratic flavor only rebalances cell
# areas and would obscure the cross-engine float story), integer (i, j) at
# 2^level, then the SAME public xy2d Hilbert fold as hilbert_d.  Cell id =
# face * 4^level + hilbert_pos — 3 + 2*level bits, int64 through level 30.
#
# Differences from real S2, stated: linear (not quadratic) st transform,
# and each face carries an UNROTATED Hilbert curve (real S2 orients the
# curve per face so the space-filling curve is continuous ACROSS faces;
# here face-major order already gives each face internal locality, which is
# what partition pruning and range-clustering consume).
#
# The parent relation is pure bit math — the xy2d Hilbert walk consumes
# coordinate bits top-down, so the level-(L-dz) position of a point is
# exactly its level-L position >> 2*dz (children occupy the contiguous
# quarter of the parent's range).  tests/test_hex.py proves this bit-exact
# against recomputation at the coarser level.
# ---------------------------------------------------------------------------


def s2_cell_parent(cell: Column, level: int, dz: int = 1) -> Column:
    """Ancestor cell at ``level - dz``: same face, Hilbert position
    ``>> 2*dz`` (top-down bit consumption makes children a contiguous
    quarter of the parent's curve range)."""
    if not 0 <= dz <= level:
        raise ValueError(f"dz={dz} out of range [0, {level}]")
    face = F.floor(cell / F.lit(1 << (2 * level))).cast("long")
    d = cell - face * F.lit(1 << (2 * level))
    return (face * F.lit(1 << (2 * (level - dz)))
            + F.shiftright(d.cast("long"), 2 * dz)).cast("long")


def s2_sql_ctes(lon: str, lat: str, source: str, level: int = 10) -> str:
    """DuckDB twin of :func:`with_s2_cell` as a CTE chain ending in
    ``s2fin`` (all source columns + ``cell``); mirrors the Spark
    literals and operation order exactly, with the Hilbert walk as a
    recursive CTE carrying (face, i, j) through the bit levels."""
    n = 1 << level
    rx = "((i >> lvl) & 1)"
    ry = "((j >> lvl) & 1)"
    return f"""s2xyz AS (
  SELECT *,
         cos(radians({lat})) * cos(radians({lon})) AS px,
         cos(radians({lat})) * sin(radians({lon})) AS py,
         sin(radians({lat})) AS pz
  FROM {source}
), s2face AS (
  SELECT *,
         CASE WHEN abs(px) >= abs(py) AND abs(px) >= abs(pz)
              THEN CASE WHEN px >= 0 THEN 0 ELSE 3 END
              WHEN abs(py) >= abs(pz)
              THEN CASE WHEN py >= 0 THEN 1 ELSE 4 END
              ELSE CASE WHEN pz >= 0 THEN 2 ELSE 5 END END AS face
  FROM s2xyz
), s2uv AS (
  SELECT *,
         CASE face WHEN 0 THEN py / px WHEN 1 THEN -px / py
                   WHEN 2 THEN -px / pz WHEN 3 THEN pz / px
                   WHEN 4 THEN pz / py ELSE -py / pz END AS uu,
         CASE face WHEN 0 THEN pz / px WHEN 1 THEN pz / py
                   WHEN 2 THEN -py / pz WHEN 3 THEN py / px
                   WHEN 4 THEN -px / py ELSE -px / pz END AS vv
  FROM s2face
), s2ij AS (
  SELECT *,
         least({n - 1}, CAST(floor((uu + 1.0) / 2.0 * {float(n)!r})
                             AS BIGINT)) AS i,
         least({n - 1}, CAST(floor((vv + 1.0) / 2.0 * {float(n)!r})
                             AS BIGINT)) AS j
  FROM s2uv
), s2rec AS (
  SELECT face, i AS i0, j AS j0, i, j,
         CAST(0 AS BIGINT) AS d, {level - 1} AS lvl
  FROM (SELECT DISTINCT face, i, j FROM s2ij)
  UNION ALL
  SELECT face, i0, j0,
         CASE WHEN {ry} = 0
              THEN CASE WHEN {rx} = 1 THEN {n - 1} - j ELSE j END
              ELSE i END,
         CASE WHEN {ry} = 0
              THEN CASE WHEN {rx} = 1 THEN {n - 1} - i ELSE i END
              ELSE j END,
         d + CAST((1::BIGINT << lvl) AS BIGINT) * (1::BIGINT << lvl)
             * xor(3 * {rx}, {ry}),
         lvl - 1
  FROM s2rec WHERE lvl >= 0
), s2d AS (
  SELECT face, i0, j0, d FROM s2rec WHERE lvl = -1
), s2fin AS (
  SELECT s2ij.*,
         CAST(s2ij.face AS BIGINT) * {1 << (2 * level)} + s2d.d AS cell
  FROM s2ij JOIN s2d
    ON s2ij.face = s2d.face AND s2ij.i = s2d.i0 AND s2ij.j = s2d.j0
)"""


def with_s2_cell(df, lon_col: str, lat_col: str, level: int = 10,
                 out: str = "cell"):
    """S2-analogue cell id at ``level``, staged: each stage (xyz ->
    face -> uv -> ij -> hilbert) lands in its own projection with NAMED
    intermediate columns, so no expression is inlined twice and the
    generated code stays inside whole-stage codegen's method-size
    limit.  A fully-fused Column form blows past it (the face CASE
    replicates into every u/v branch) and falls back to interpreted
    evaluation — ~6x slower at sf0.1.
    Appends ``out`` (the cell id) and drops the intermediates."""
    if not 0 <= level <= 30:
        raise ValueError(f"level={level} out of range [0, 30]")
    n = 1 << level
    lon, lat = F.col(lon_col).cast("double"), F.col(lat_col).cast("double")
    lam, phi = F.radians(lon), F.radians(lat)
    st = df.withColumns({
        "__px": F.cos(phi) * F.cos(lam),
        "__py": F.cos(phi) * F.sin(lam),
        "__pz": F.sin(phi)})
    px, py, pz = F.col("__px"), F.col("__py"), F.col("__pz")
    ax, ay, az = F.abs(px), F.abs(py), F.abs(pz)
    st = st.withColumn(
        "__face",
        F.when((ax >= ay) & (ax >= az),
               F.when(px >= 0, F.lit(0)).otherwise(F.lit(3)))
        .when(ay >= az, F.when(py >= 0, F.lit(1)).otherwise(F.lit(4)))
        .otherwise(F.when(pz >= 0, F.lit(2)).otherwise(F.lit(5))))
    face = F.col("__face")
    st = st.withColumns({
        "__u": (F.when(face == 0, py / px).when(face == 1, -px / py)
                .when(face == 2, -px / pz).when(face == 3, pz / px)
                .when(face == 4, pz / py).otherwise(-py / pz)),
        "__v": (F.when(face == 0, pz / px).when(face == 1, pz / py)
                .when(face == 2, -py / pz).when(face == 3, py / px)
                .when(face == 4, -px / py).otherwise(-px / pz))})
    st = st.withColumns({
        "__i": F.least(F.lit(n - 1),
                       F.floor((F.col("__u") + F.lit(1.0)) / F.lit(2.0)
                               * F.lit(float(n)))),
        "__j": F.least(F.lit(n - 1),
                       F.floor((F.col("__v") + F.lit(1.0)) / F.lit(2.0)
                               * F.lit(float(n))))})
    st = st.withColumn(
        out,
        (face.cast("long") * F.lit(1 << (2 * level))
         + hilbert_d(F.col("__i"), F.col("__j"), level)).cast("long"))
    return st.drop("__px", "__py", "__pz", "__face", "__u", "__v",
                   "__i", "__j")
