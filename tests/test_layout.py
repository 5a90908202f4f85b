"""Z-order layout keys: Morton key correctness, SQL twin, quadkey,
geohash and Hilbert parity."""

from pyspark.sql import functions as F

from tilemaker_spark.operators import layout


def _morton_py(x: int, y: int) -> int:
    """Independent reference: interleave bits one at a time."""
    out = 0
    for i in range(16):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def test_morton_key_matches_reference(spark):
    rows = [(x, y) for x in (0, 1, 2, 3, 255, 4095, 65535)
            for y in (0, 1, 2, 3, 255, 4095, 65535)]
    df = spark.createDataFrame(rows, "x int, y int")
    got = {(r["x"], r["y"]): r["m"] for r in df.select(
        "x", "y", layout.morton_key(F.col("x"), F.col("y")).alias("m")
    ).collect()}
    for (x, y), m in got.items():
        assert m == _morton_py(x, y), (x, y)


def test_morton_locality_property():
    """Points close in (x, y) are close in Morton order: a 2x2 block
    occupies 4 consecutive codes."""
    base = _morton_py(10, 20)
    block = sorted(_morton_py(10 + dx, 20 + dy)
                   for dx in (0, 1) for dy in (0, 1))
    assert block == [base, base + 1, base + 2, base + 3]


def test_zorder_key_sql_twin(spark):
    """Spark Column and SQL-string forms compute identical keys."""
    df = spark.range(500).select(
        ((F.col("id") % 360) - 180.0 + 0.5).alias("lon"),
        ((F.col("id") % 160) - 80.0 + 0.25).alias("lat"))
    a = [r["k"] for r in df.select(
        layout.zorder_key(F.col("lon"), F.col("lat"), 12).alias("k"))
        .collect()]
    df.createOrReplaceTempView("zl_pts")
    b = [r["k"] for r in spark.sql(
        f"SELECT {layout.zorder_key_sql('lon', 'lat', 12)} AS k "
        f"FROM zl_pts").collect()]
    assert a == b


def test_quadkey_prefix_property(spark):
    """A parent tile's quadkey is a prefix of all four children's, and
    known fixtures match the published Bing examples (tile (3,5)@z3 ->
    '213')."""
    from pyspark.sql import functions as F
    from tilemaker_spark.sql import tile_exprs as TE
    df = spark.createDataFrame([(3, 5)], "x long, y long")
    assert df.select(TE.quadkey(F.col("x"), F.col("y"), 3)
                     .alias("qk")).collect()[0]["qk"] == "213"
    kids = spark.createDataFrame(
        [(6, 10), (7, 10), (6, 11), (7, 11)], "x long, y long")
    out = [r["qk"] for r in kids.select(
        TE.quadkey(F.col("x"), F.col("y"), 4).alias("qk")).collect()]
    assert sorted(out) == ["2130", "2131", "2132", "2133"]
    assert all(q.startswith("213") for q in out)


def test_geohash_published_fixtures(spark):
    """Matches the canonical published geohashes ('ezs42' is the
    original Niemeyer example) and keeps the prefix property."""
    from pyspark.sql import functions as F
    from tilemaker_spark.sql import tile_exprs as TE
    df = spark.createDataFrame(
        [(-5.6, 42.6), (13.361389, 38.115556), (2.3488, 48.8534)],
        "lon double, lat double")
    out = df.select(
        TE.geohash(F.col("lon"), F.col("lat"), 5).alias("g5"),
        TE.geohash(F.col("lon"), F.col("lat"), 7).alias("g7")).collect()
    assert [r["g5"] for r in out] == ["ezs42", "sqc8b", "u09tv"]
    assert all(r["g7"].startswith(r["g5"]) for r in out)


def test_hilbert_parity_with_pmtiles_python(spark):
    """The Catalyst F.aggregate fold equals the sink's independent
    Python xy2d (sinks/pmtiles.hilbert_d) on random tiles at several
    zooms — two implementations of the public algorithm written against
    different substrates."""
    import random
    from tilemaker_spark.sinks.pmtiles import hilbert_d as py_hd
    from tilemaker_spark.sql import tile_exprs as TE
    rng = random.Random(99)
    for z in (1, 3, 8, 14):
        n = 1 << z
        pts = list({(rng.randrange(n), rng.randrange(n))
                    for _ in range(120)})
        df = spark.createDataFrame(pts, "x int, y int")
        got = {(r["x"], r["y"]): r["d"] for r in df.select(
            "x", "y",
            TE.hilbert_d(F.col("x"), F.col("y"), z).alias("d")).collect()}
        for x, y in pts:
            assert got[(x, y)] == py_hd(z, x, y), (z, x, y)


def test_hilbert_bijection_and_unit_steps(spark):
    """On the full z=4 grid the curve index is a bijection onto
    [0, 256) and CONSECUTIVE indices are edge-adjacent cells — the
    continuity property that makes Hilbert strictly better for
    locality layout than Z-order (which takes diagonal jumps)."""
    from tilemaker_spark.sql import tile_exprs as TE
    z, n = 4, 16
    df = spark.createDataFrame(
        [(x, y) for x in range(n) for y in range(n)], "x int, y int")
    rows = df.select(
        "x", "y", TE.hilbert_d(F.col("x"), F.col("y"), z).alias("d")
    ).collect()
    by_d = {r["d"]: (r["x"], r["y"]) for r in rows}
    assert sorted(by_d) == list(range(n * n))
    for d in range(1, n * n):
        (x1, y1), (x2, y2) = by_d[d - 1], by_d[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, d
