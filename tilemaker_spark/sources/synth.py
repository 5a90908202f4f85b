"""Deterministic synthetic inputs (seeded; no external data).

Two jobs:

1. ``geo_point_expr`` / ``geo_point_sql`` — derive a deterministic
   (lon, lat) from any integer key with pure int64/float64 arithmetic.
   The SAME formula is emitted as a Spark Column and as ANSI SQL, so the
   driver's DuckDB oracle computes bit-identical coordinates.  The
   distribution is skewed on purpose: ~80% of points cluster into 20
   "urban" centers (BASELINE calls out urban-cell skew), the rest
   uniform worldwide.

2. ``images_df`` — the BASELINE ``input_hint`` table
   (image_id, bytes, w, h, fmt, caption, phash, lon, lat, h3_coarse, salt)
   materialized at any scale from ``spark.range``: metadata columns are
   pure Catalyst expressions; ``bytes`` is a scalar Arrow UDF
   (``operators.rows.row_udf``) producing real PNGs (lossless) and real
   baseline-JFIF JPEGs (lossy path, kernels/jpeg.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kernels import png as P
from ..kernels import riff as R
from ..operators.rows import row_udf
from ..sql import tile_exprs as TE

M32 = 4294967296  # 2^32
# Small LCG multipliers on purpose: k * A must not overflow int64 even at
# the 10^12-row design point (k * 9301 ~= 9.3e15 << 2^63).
A1, C1 = 9301, 49297
A2, C2 = 69069, 362437
N_CITIES = 20
URBAN_FRACTION_MOD = 10  # k % 10 < 8 -> urban (80%)
URBAN_MOD_LT = 8


def _u01_expr(key: Column, a: int, c: int) -> Column:
    return ((key * F.lit(a) + F.lit(c)) % F.lit(M32)).cast("double") / F.lit(
        float(M32)
    )


def _u01_sql(key: str, a: int, c: int) -> str:
    return f"(cast(({key} * {a} + {c}) % {M32} as double) / {float(M32)})"


def geo_point_expr(key: Column) -> tuple[Column, Column]:
    """Deterministic skewed (lon, lat) from an int64 key — Spark side."""
    u1 = _u01_expr(key, A1, C1)
    u2 = _u01_expr(key, A2, C2)
    city = key % F.lit(N_CITIES)
    center_lon = F.lit(-171.0) + city.cast("double") * F.lit(18.0)
    center_lat = F.lit(-54.0) + ((city * F.lit(7)) % F.lit(20)).cast(
        "double"
    ) * F.lit(6.0)
    urban = (key % F.lit(URBAN_FRACTION_MOD)) < F.lit(URBAN_MOD_LT)
    lon = F.when(urban, center_lon + (u1 - F.lit(0.5)) * F.lit(1.5)).otherwise(
        u1 * F.lit(360.0) - F.lit(180.0)
    )
    lat = F.when(urban, center_lat + (u2 - F.lit(0.5)) * F.lit(1.5)).otherwise(
        u2 * F.lit(170.0) - F.lit(85.0)
    )
    return lon, lat


def geo_point_sql(key: str) -> tuple[str, str]:
    """Same formula as :func:`geo_point_expr`, as DuckDB-compatible SQL."""
    u1 = _u01_sql(key, A1, C1)
    u2 = _u01_sql(key, A2, C2)
    city = f"({key} % {N_CITIES})"
    center_lon = f"(-171.0 + cast({city} as double) * 18.0)"
    center_lat = f"(-54.0 + cast(({city} * 7) % 20 as double) * 6.0)"
    urban = f"(({key} % {URBAN_FRACTION_MOD}) < {URBAN_MOD_LT})"
    lon = (
        f"(case when {urban} then {center_lon} + ({u1} - 0.5) * 1.5"
        f" else {u1} * 360.0 - 180.0 end)"
    )
    lat = (
        f"(case when {urban} then {center_lat} + ({u2} - 0.5) * 1.5"
        f" else {u2} * 170.0 - 85.0 end)"
    )
    return lon, lat


# ---------------------------------------------------------------------------
# Synthetic polygon grid (the "large layer" for the cell-keyed PIP path, and
# nation-derived boxes for oracle-checkable PIP).
# ---------------------------------------------------------------------------

def nation_boxes_sql_parts(nationkey: str = "n_nationkey") -> dict[str, str]:
    """A deterministic 5x5 grid of lon/lat boxes keyed by nation (0..24).
    col = k % 5, row = k / 5; each box 30 deg wide, 20 deg tall, anchored
    at (-150 + col*60, -70 + row*30). Returned as SQL fragments."""
    col = f"({nationkey} % 5)"
    row = f"cast(floor({nationkey} / 5) as int)"
    return {
        "minlon": f"(-150.0 + {col} * 60.0)",
        "maxlon": f"(-150.0 + {col} * 60.0 + 30.0)",
        "minlat": f"(-70.0 + {row} * 30.0)",
        "maxlat": f"(-70.0 + {row} * 30.0 + 20.0)",
    }


def nation_boxes_expr(nationkey: Column) -> dict[str, Column]:
    col = (nationkey % F.lit(5)).cast("double")
    row = F.floor(nationkey / F.lit(5)).cast("double")
    minlon = F.lit(-150.0) + col * F.lit(60.0)
    minlat = F.lit(-70.0) + row * F.lit(30.0)
    return {
        "minlon": minlon,
        "maxlon": minlon + F.lit(30.0),
        "minlat": minlat,
        "maxlat": minlat + F.lit(20.0),
    }


def grid_polygons_df(spark: SparkSession, nx: int = 360, ny: int = 180,
                     layer: str = "grid") -> DataFrame:
    """Large synthetic polygon layer: nx*ny lon/lat boxes with packed-ring
    geometry columns (coords/ring_sizes/poly_ring_counts) — exercises the
    cell-keyed shuffle PIP path at any scale."""
    df = spark.range(nx * ny).select(
        F.col("id").alias("poly_id"),
        (F.col("id") % nx).alias("ix"),
        F.floor(F.col("id") / nx).alias("iy"),
    )
    minlon = F.lit(-180.0) + F.col("ix") * F.lit(360.0 / nx)
    maxlon = minlon + F.lit(360.0 / nx)
    minlat = F.lit(-85.0) + F.col("iy") * F.lit(170.0 / ny)
    maxlat = minlat + F.lit(170.0 / ny)
    coords = F.array(
        minlon, minlat, maxlon, minlat, maxlon, maxlat, minlon, maxlat,
        minlon, minlat,
    )
    return df.select(
        "poly_id",
        F.lit(layer).alias("layer"),
        coords.alias("coords"),
        F.array(F.lit(5)).alias("ring_sizes"),
        F.array(F.lit(1)).alias("poly_ring_counts"),
        minlon.alias("minlon"), minlat.alias("minlat"),
        maxlon.alias("maxlon"), maxlat.alias("maxlat"),
        F.lit(0).alias("minzoom"),
        F.map_from_arrays(
            F.array(F.lit("class")), F.array(F.lit("grid"))
        ).alias("attrs"),
    )


# ---------------------------------------------------------------------------
# The BASELINE images table
# ---------------------------------------------------------------------------

def images_df(spark: SparkSession, n: int, with_bytes: bool = True,
              n_salts: int = 8, cell_zoom: int = 6,
              partitions: int | None = None) -> DataFrame:
    """Deterministic image+caption table per BASELINE.json input_hint:
    (image_id string, bytes binary, w int, h int, fmt string,
     caption string, phash long, lon/lat double, h3_coarse long, salt int),
    partition spec (h3_coarse, salt)."""
    rng = spark.range(n, numPartitions=partitions)
    k = F.col("id")
    lon, lat = geo_point_expr(k)
    w = (F.lit(16) + (k % F.lit(5)) * F.lit(8)).cast("int")
    h = (F.lit(16) + ((k + F.lit(2)) % F.lit(4)) * F.lit(8)).cast("int")
    fmt = F.when((k % 3) == 0, F.lit("jpeg")).otherwise(F.lit("png"))
    caption = F.concat(
        F.lit("caption for image "), k.cast("string"), F.lit(" // "),
        F.format_string("%08x", (k * F.lit(A1)) % F.lit(M32)),
    )
    phash = ((k * F.lit(A2) + F.lit(C2)) % F.lit(M32)) * F.lit(65537) % F.lit(
        (1 << 62)
    )
    df = rng.select(
        F.format_string("img_%012d", k).alias("image_id"),
        k.alias("_k"),
        w.alias("w"), h.alias("h"), fmt.alias("fmt"),
        caption.alias("caption"), phash.cast("long").alias("phash"),
        lon.alias("lon"), lat.alias("lat"),
    ).withColumn(
        "h3_coarse", TE.cell_id(F.col("lon"), F.col("lat"), cell_zoom)
    ).withColumn("salt", (F.col("_k") % n_salts).cast("int"))
    if with_bytes:
        df = df.withColumn(
            "bytes", _encode_image_udf(F.col("_k"), F.col("w"), F.col("h"),
                                       F.col("fmt"))
        )
    return df.drop("_k").select(
        "image_id", *(["bytes"] if with_bytes else []),
        "w", "h", "fmt", "caption", "phash", "lon", "lat", "h3_coarse", "salt",
    )


def gradient_images_df(spark: SparkSession, n: int,
                       partitions: int | None = None) -> DataFrame:
    """Closed-form-pixel image table (image_id, bytes, w, h, fmt='png'):
    ``px[y, x, c] = (7x + 13y + 29c + 31k) % 256`` (kernels/png.
    gradient_pixels), PNG-encoded so the bytes round-trip losslessly.

    The point of a second synthetic image table: every pixel is a pure
    integer formula, so decode -> resize/flip/rotate -> checksum chains
    can be verified against an exact-integer DuckDB twin (images_df's
    PCG64 pixels can only be verified in-python).  Sizes vary per row
    (w in 8..24, h in 8..26) so geometry transforms see non-square,
    non-constant shapes."""
    rng = spark.range(n, numPartitions=partitions)
    k = F.col("id")
    w = (F.lit(8) + (k % F.lit(5)) * F.lit(4)).cast("int")
    h = (F.lit(8) + ((k + F.lit(2)) % F.lit(4)) * F.lit(6)).cast("int")
    df = rng.select(
        F.format_string("grad_%09d", k).alias("image_id"),
        k.alias("_k"), w.alias("w"), h.alias("h"),
        F.lit("png").alias("fmt"),
    ).withColumn(
        "bytes", _encode_gradient_udf(F.col("_k"), F.col("w"), F.col("h"))
    )
    return df.select("image_id", "bytes", "w", "h", "fmt")


def _encode_gradient_udf(k: Column, w: Column, h: Column) -> Column:
    return row_udf("binary", lambda kk, ww, hh: P.encode_png(
        P.gradient_pixels(kk, ww, hh)), k, w, h)


def _encode_image_udf(k: Column, w: Column, h: Column, fmt: Column) -> Column:
    def enc(kk, ww, hh, ff):
        px = P.synth_pixels(kk, ww, hh)
        return P.encode_png(px) if ff == "png" else P.encode_jpeg(px)

    return row_udf("binary", enc, k, w, h, fmt)


def videos_df(spark: SparkSession, n: int,
              partitions: int | None = None) -> DataFrame:
    """Deterministic video table: (video_id string, bytes binary,
    n_frames int, fps int, w int, h int, codec string).

    ``bytes`` is a real RIFF/AVI container (kernels/riff.py) whose
    frames are real baseline-JFIF images of the deterministic reference
    pixels, frame seed = video_seed*1000 + frame_idx (the convention
    operators/media.sample_frames verifies against).  Metadata is pure
    Catalyst so a SQL oracle can regenerate it closed-form:
    n_frames = 8 + (k%5)*4, fps = 10 + (k%3)*5,
    w = 16 + (k%3)*8, h = 16 + ((k+1)%2)*8."""
    rng = spark.range(n, numPartitions=partitions)
    k = F.col("id")
    df = rng.select(
        F.format_string("vid_%d", k).alias("video_id"),
        k.alias("_k"),
        (F.lit(8) + (k % 5) * F.lit(4)).cast("int").alias("n_frames"),
        (F.lit(10) + (k % 3) * F.lit(5)).cast("int").alias("fps"),
        (F.lit(16) + (k % 3) * F.lit(8)).cast("int").alias("w"),
        (F.lit(16) + ((k + 1) % 2) * F.lit(8)).cast("int").alias("h"),
        F.lit("MJPG").alias("codec"),
    )

    def enc(kk, nf, fps, ww, hh):
        frames = [P.encode_jpeg(P.synth_pixels(kk * 1000 + j, ww, hh))
                  for j in range(nf)]
        return R.encode_avi_mjpeg(frames, fps, ww, hh)

    return df.withColumn(
        "bytes", row_udf("binary", enc, F.col("_k"), F.col("n_frames"),
                         F.col("fps"), F.col("w"), F.col("h"))
    ).select("video_id", "bytes", "n_frames", "fps", "w", "h", "codec")


def audio_df(spark: SparkSession, n: int, sample_rate: int = 8000,
             partitions: int | None = None) -> DataFrame:
    """Deterministic audio table: (audio_id string, bytes binary,
    sample_rate int, n_samples int).

    ``bytes`` is a real RIFF/WAVE 16-bit mono PCM file whose samples
    come from kernels/riff.synth_audio_samples — pure int64 arithmetic
    a DuckDB oracle reproduces exactly.  n_samples = 4000 + (k%7)*1000."""
    rng = spark.range(n, numPartitions=partitions)
    k = F.col("id")
    df = rng.select(
        F.format_string("aud_%d", k).alias("audio_id"),
        k.alias("_k"),
        F.lit(sample_rate).cast("int").alias("sample_rate"),
        (F.lit(4000) + (k % 7) * F.lit(1000)).cast("int").alias("n_samples"),
    )

    return df.withColumn(
        "bytes", row_udf("binary", lambda kk, sr, ns: R.encode_wav(
            R.synth_audio_samples(kk, ns), sr),
            F.col("_k"), F.col("sample_rate"), F.col("n_samples"))
    ).select("audio_id", "bytes", "sample_rate", "n_samples")
