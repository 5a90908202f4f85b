"""S2-analogue cell index (sql/tile_exprs.py with_s2_cell).

Parity against an INDEPENDENT pure-Python implementation (math module,
textbook xy2d loop — no shared code with the Catalyst fold), the
parent-subdivision bit property, and face coverage.
"""

import math
import random

import pytest

from pyspark.sql import functions as F

from tilemaker_spark.sql import tile_exprs as TE

LEVEL = 9


def _py_xy2d(x, y, z):
    n = 1 << z
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) else 0
        ry = 1 if (y & s) else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x, y = (n - 1) - x, (n - 1) - y
            x, y = y, x
        s //= 2
    return d


def _py_s2(lon, lat, level):
    lam, phi = math.radians(lon), math.radians(lat)
    px = math.cos(phi) * math.cos(lam)
    py = math.cos(phi) * math.sin(lam)
    pz = math.sin(phi)
    ax, ay, az = abs(px), abs(py), abs(pz)
    if ax >= ay and ax >= az:
        face = 0 if px >= 0 else 3
    elif ay >= az:
        face = 1 if py >= 0 else 4
    else:
        face = 2 if pz >= 0 else 5
    if face == 0:
        u, v = py / px, pz / px
    elif face == 1:
        u, v = -px / py, pz / py
    elif face == 2:
        u, v = -px / pz, -py / pz
    elif face == 3:
        u, v = pz / px, py / px
    elif face == 4:
        u, v = pz / py, -px / py
    else:
        u, v = -py / pz, -px / pz
    n = 1 << level
    i = min(n - 1, math.floor((u + 1.0) / 2.0 * float(n)))
    j = min(n - 1, math.floor((v + 1.0) / 2.0 * float(n)))
    return face * (1 << (2 * level)) + _py_xy2d(i, j, level)


def _pts():
    rng = random.Random(42)
    pts = [(rng.uniform(-180, 180), rng.uniform(-89.9, 89.9))
           for _ in range(300)]
    # poles, dateline, equator, face centers
    pts += [(0.0, 89.9), (0.0, -89.9), (179.99, 0.0), (-179.99, 0.0),
            (0.0, 0.0), (90.0, 0.0), (-90.0, 0.0), (45.0, 35.26),
            (12.3, -45.6)]
    return pts


def _spark_cells(spark, pts, level):
    df = spark.createDataFrame(pts, "lon double, lat double")
    return [r["cell"] for r in
            TE.with_s2_cell(df, "lon", "lat", level).collect()]


def test_matches_independent_python(spark):
    pts = _pts()
    got = _spark_cells(spark, pts, LEVEL)
    want = [_py_s2(lon, lat, LEVEL) for lon, lat in pts]
    assert got == want


def test_parent_is_coarser_cell(spark):
    # bit-exact: parent(cell@L, dz) == cell@(L-dz), for the subdivision
    # reason documented in tile_exprs.py
    pts = _pts()
    df = TE.with_s2_cell(spark.createDataFrame(pts, "lon double, lat double"),
                         "lon", "lat", LEVEL, out="fine")
    for dz in (1, 3):
        rows = TE.with_s2_cell(df, "lon", "lat", LEVEL - dz).select(
            TE.s2_cell_parent(F.col("fine"), LEVEL, dz).alias("p"),
            "cell").collect()
        assert all(r["p"] == r["cell"] for r in rows)


def test_all_faces_covered(spark):
    faces = {c >> (2 * LEVEL) for c in _spark_cells(spark, _pts(), LEVEL)}
    assert faces == {0, 1, 2, 3, 4, 5}


def test_cell_id_range_and_bad_level(spark):
    pts = _pts()
    top = 6 * (1 << (2 * LEVEL))
    assert all(0 <= c < top for c in _spark_cells(spark, pts, LEVEL))
    with pytest.raises(ValueError):
        TE.with_s2_cell(spark.range(1), "id", "id", 31)
    with pytest.raises(ValueError):
        TE.s2_cell_parent(F.lit(0), 5, 6)


def test_duckdb_twin_bit_exact(spark):
    duckdb = pytest.importorskip("duckdb")
    pts = _pts()
    got = _spark_cells(spark, pts, LEVEL)
    con = duckdb.connect()
    con.execute("CREATE TABLE p(lon DOUBLE, lat DOUBLE, rn INTEGER)")
    con.executemany("INSERT INTO p VALUES (?, ?, ?)",
                    [(lo, la, i) for i, (lo, la) in enumerate(pts)])
    ctes = TE.s2_sql_ctes("lon", "lat", "p", LEVEL)
    want = [r[0] for r in con.execute(
        f"WITH RECURSIVE {ctes} SELECT cell FROM s2fin ORDER BY rn"
    ).fetchall()]
    assert got == want
