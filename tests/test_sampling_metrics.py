"""Deterministic sampling/splitting and the SSIM kernel."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.kernels import metrics, png
from tilemaker_spark.operators import sampling


# ---------------------------------------------------------------- sampling

def test_hash_split_deterministic_and_partition_invariant(spark):
    df1 = spark.range(5000)
    df2 = spark.range(5000).repartition(13)
    a = dict(sampling.hash_split(df1, "id").select("id", "split").collect())
    b = dict(sampling.hash_split(df2, "id").select("id", "split").collect())
    assert a == b
    # weights roughly honored
    from collections import Counter
    c = Counter(a.values())
    assert 0.95 < c["train"] / 5000 < 1.0
    assert c["val"] > 0 and c["test"] > 0
    assert c["train"] + c["val"] + c["test"] == 5000


def test_hash_split_matches_oracle(spark, sf_dir):
    import duckdb
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sampling.hash_split(d, "doc_id").select("doc_id", "split") \
        .toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = con.execute(sampling.hash_split_oracle_sql()).fetchdf()
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True) \
        .astype(g.dtypes.to_dict())
    assert len(g) > 0 and g.equals(w)


def test_hash_split_string_ids(spark):
    df = spark.createDataFrame(
        [(f"doc_{i}",) for i in range(2000)], "sid string")
    out = sampling.hash_split(df, "sid",
                              weights={"a": 0.5, "b": 0.5})
    from collections import Counter
    c = Counter(r["split"] for r in out.collect())
    assert set(c) == {"a", "b"}
    assert 0.4 < c["a"] / 2000 < 0.6


def test_hash_split_bad_weights(spark):
    with pytest.raises(ValueError):
        sampling.hash_split(spark.range(5), "id", weights={"x": 0.5})


def test_stratified_sample(spark):
    df = spark.range(10000).withColumn(
        "stratum", F.when(F.col("id") % 2 == 0, "even").otherwise("odd"))
    out = sampling.stratified_sample(
        df, "stratum", "id", {"even": 0.10, "odd": 0.50}).collect()
    ne = sum(1 for r in out if r["stratum"] == "even")
    no = sum(1 for r in out if r["stratum"] == "odd")
    assert 350 < ne < 650          # ~500 of 5000
    assert 2200 < no < 2800        # ~2500 of 5000
    # default fraction drops unlisted strata
    out2 = sampling.stratified_sample(
        df, "stratum", "id", {"even": 0.10}).collect()
    assert all(r["stratum"] == "even" for r in out2)


# ------------------------------------------------------------------- SSIM

def test_ssim_identity():
    px = png.synth_pixels(7, 32, 24)
    assert metrics.ssim(px, px) == pytest.approx(1.0)


def test_ssim_detects_distortion_and_orders_by_severity():
    px = png.synth_pixels(3, 32, 32).astype(np.int32)
    mild = np.clip(px + 4, 0, 255).astype(np.uint8)
    harsh = np.clip(px + 60, 0, 255).astype(np.uint8)
    s_mild = metrics.ssim(px.astype(np.uint8), mild)
    s_harsh = metrics.ssim(px.astype(np.uint8), harsh)
    assert s_harsh < s_mild < 1.0
    assert s_mild > 0.9


def test_ssim_structure_sensitivity():
    """Shuffling pixel rows keeps the global histogram (so global
    mean/var metrics can't see it) but destroys local structure."""
    rng = np.random.RandomState(5)
    px = png.synth_pixels(11, 32, 32)
    perm = px[rng.permutation(px.shape[0])]
    assert metrics.ssim(px, perm) < 0.7


def test_ssim_tiny_images_defined():
    a = np.full((2, 3, 3), 100, np.uint8)
    assert metrics.ssim(a, a) == pytest.approx(1.0)


def test_ssim_shape_mismatch():
    with pytest.raises(ValueError):
        metrics.ssim(np.zeros((4, 4, 3), np.uint8),
                     np.zeros((5, 4, 3), np.uint8))


def test_image_quality_operator(spark):
    from tilemaker_spark.operators import images as image_ops
    from tilemaker_spark.sources.synth import images_df
    img = images_df(spark, 40)
    out = image_ops.image_quality(img).collect()
    assert len(out) == 40
    for r in out:
        assert r["ok"], (r["image_id"], r["psnr_db"], r["ssim"])
        if r["fmt"] == "png":
            assert r["ssim"] == pytest.approx(1.0)
        else:
            assert r["ssim"] >= 0.95


def test_ssim_flat_audit_exact_integers(spark):
    # the oracle contract: the REAL windowed kernel on flat images must
    # match the closed-form rational (ssim_ok=1 everywhere), and
    # identical pairs must give num == den (SSIM exactly 1)
    from pyspark.sql import functions as F
    from tilemaker_spark.operators import images as image_ops
    base = spark.range(60).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37 + 11) % 256).cast("int").alias("g1"),
        F.when(F.col("id") % 5 == 0,
               ((F.col("id") * 37 + 11) % 256).cast("int"))
        .otherwise(((F.col("id") * 101 + 53) % 256).cast("int"))
        .alias("g2"),
        (F.lit(4) + (F.col("id") % 4) * 4).cast("int").alias("w"),
        (F.lit(4) + ((F.col("id") + 1) % 3) * 8).cast("int").alias("h"))
    rows = image_ops.ssim_flat_audit(base).collect()
    assert len(rows) == 60
    for r in rows:
        assert r["ssim_ok"] == 1, (r["k"], r["g1"], r["g2"])
        assert r["ssim_num"] == 20000 * r["g1"] * r["g2"] + 65025
        assert r["ssim_den"] == (10000 * (r["g1"] ** 2 + r["g2"] ** 2)
                                 + 65025)
        if r["k"] % 5 == 0:
            assert r["ssim_num"] == r["ssim_den"]
        else:
            assert r["ssim_num"] <= r["ssim_den"]


def test_weighted_mixture_composition(spark):
    # 3 sources with very different sizes; target 50/30/20
    rows = ([(i, "web") for i in range(6000)]
            + [(10000 + i, "books") for i in range(1000)]
            + [(20000 + i, "code") for i in range(3000)])
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out = sampling.weighted_mixture(
        df, "source", "doc_id",
        {"web": 0.5, "books": 0.3, "code": 0.2}).collect()
    from collections import Counter
    c = Counter(r["source"] for r in out)
    # books is binding: T = 1000/0.3 = 3333 -> ~1667 web, 1000 books,
    # ~667 code (hash thinning is probabilistic around the threshold)
    assert c["books"] == 1000
    assert 1450 < c["web"] < 1900
    assert 550 < c["code"] < 800
    # composition close to target
    total = sum(c.values())
    assert abs(c["web"] / total - 0.5) < 0.05
    assert abs(c["code"] / total - 0.2) < 0.05


def test_weighted_mixture_deterministic(spark):
    df1 = spark.createDataFrame(
        [(i, f"s{i % 3}") for i in range(3000)], "doc_id long, source string")
    df2 = df1.repartition(7)
    w = {"s0": 0.4, "s1": 0.4, "s2": 0.2}
    a = sorted(r["doc_id"] for r in
               sampling.weighted_mixture(df1, "source", "doc_id", w).collect())
    b = sorted(r["doc_id"] for r in
               sampling.weighted_mixture(df2, "source", "doc_id", w).collect())
    assert a == b and len(a) > 0


def test_weighted_mixture_drops_unlisted_and_validates(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "doc_id long, source string")
    out = sampling.weighted_mixture(df, "source", "doc_id", {"a": 1.0})
    assert [r["source"] for r in out.collect()] == ["a"]
    with pytest.raises(ValueError):
        sampling.weighted_mixture(df, "source", "doc_id", {"a": -1.0})


def test_weighted_mixture_matches_oracle(spark, sf_dir):
    import duckdb
    w = {"src0": 0.5, "src1": 0.3, "src2": 0.2}
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    got = sampling.weighted_mixture(d, "source", "doc_id", w) \
        .select("doc_id", "source").toPandas()
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf_dir}/documents.parquet')")
    want = con.execute(sampling.weighted_mixture_oracle_sql(w)).fetchdf()
    g = got.sort_values("doc_id").reset_index(drop=True)
    ww = want.sort_values("doc_id").reset_index(drop=True) \
        .astype(g.dtypes.to_dict())
    assert len(g) > 0 and g.equals(ww)


def test_pack_blocks_matches_sequential(spark):
    """The two-level distributed prefix sum equals the straight
    sequential cumsum, regardless of input partitioning, and block
    spans respect the capacity boundaries."""
    import random
    rnd = random.Random(7)
    rows = [(i, rnd.randrange(1, 40)) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long") \
              .repartition(13)  # scramble physical order on purpose
    out = {r["doc_id"]: r for r in sampling.pack_blocks(
        df, capacity=64, range_size=50).collect()}
    cum = 0
    for i, tok in rows:
        r = out[i]
        assert r["tok_start"] == cum
        assert r["start_block"] == cum // 64
        assert r["end_block"] == (cum + tok - 1) // 64
        assert r["start_offset"] == cum % 64
        cum += tok


def test_salt_plan_sizes_salts_per_key(spark):
    """Hot keys get ceil(n/target) salts, cold keys exactly 1."""
    from tilemaker_spark.operators import skew
    rows = ([("hot", f"r{i}") for i in range(500)]
            + [("warm", f"w{i}") for i in range(120)]
            + [("cold", f"c{i}") for i in range(7)])
    df = spark.createDataFrame(rows, "cell string, rid string")
    plan = skew.salt_plan(df, "cell", target_rows=100)
    got = {r["cell"]: (r["n_rows"], r["n_salts"]) for r in plan.collect()}
    assert got == {"hot": (500, 5), "warm": (120, 2), "cold": (7, 1)}


def test_salt_plan_rejects_bad_target(spark):
    import pytest as _pytest
    from tilemaker_spark.operators import skew
    df = spark.range(3).select(F.col("id").alias("cell"),
                               F.col("id").alias("rid"))
    with _pytest.raises(ValueError):
        skew.salt_plan(df, "cell", 0)


def test_corpus_shuffle_dense_and_partition_invariant(spark):
    """Positions are a dense permutation of 0..n-1, equal the
    sequential row_number over the same key, and do not change when
    the input partitioning changes (the whole point)."""
    n = 500
    df = spark.range(n).withColumnRenamed("id", "doc_id")
    got = {r["doc_id"]: r["pos"] for r in
           sampling.corpus_shuffle(df, seed=7, n_ranges=8).collect()}
    assert sorted(got.values()) == list(range(n))
    keyed = sorted(range(n), key=lambda i: (((i + 7) * 48271 + 11)
                                            % 2147483647, i))
    expect = {doc: pos for pos, doc in enumerate(keyed)}
    assert got == expect
    re = {r["doc_id"]: r["pos"] for r in sampling.corpus_shuffle(
        df.repartition(13), seed=7, n_ranges=3).collect()}
    assert re == got


def test_domain_cap_deterministic_and_capped(spark):
    """Cap holds per group; survivor set is stable across repartition;
    groups under the cap keep everything."""
    rows = [(i, "big" if i < 400 else "small") for i in range(430)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out1 = sampling.domain_cap(df, cap=50, salt=3)
    got1 = sorted((r["source"], r["doc_id"]) for r in out1.collect())
    counts = {}
    for s, _ in got1:
        counts[s] = counts.get(s, 0) + 1
    assert counts == {"big": 50, "small": 30}
    out2 = sampling.domain_cap(df.repartition(7), cap=50, salt=3)
    assert sorted((r["source"], r["doc_id"]) for r in out2.collect()) \
        == got1


def test_tile_load_stats_matches_numpy(spark):
    """Exact order statistics over per-tile loads match a sequential
    numpy computation."""
    from tilemaker_spark.operators import tiling
    from tilemaker_spark.kernels import proj
    rng = np.random.default_rng(5)
    lons = rng.uniform(-170, 170, 800)
    lats = rng.uniform(-80, 80, 800)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(lons, lats)],
        "lon double, lat double")
    got = {r["z"]: r for r in
           tiling.tile_load_stats(df, zooms=(3, 5)).collect()}
    for z in (3, 5):
        xs = proj.lon2tilex(lons, z)
        ys = proj.lat2tiley(lats, z)
        _, n = np.unique(np.stack([xs, ys]), axis=1, return_counts=True)
        n = np.sort(n)
        r = got[z]
        assert r["n_tiles"] == len(n) and r["n_points"] == 800
        assert r["max_load"] == n[-1]
        assert r["p50_load"] == n[(len(n) - 1) * 50 // 100]
        assert r["p99_load"] == n[(len(n) - 1) * 99 // 100]


def test_weighted_sample_partition_independent_and_formula_exact(spark):
    import hashlib
    import math
    from tilemaker_spark.operators.sampling import weighted_sample
    rows = [(f"d{i}", 1 + (i * 7) % 50) for i in range(400)]
    df = spark.createDataFrame(rows, "id string, w int")

    def py_key(i, w, salt=0):
        h = int(hashlib.md5(f"{i}:{salt}".encode()).hexdigest()[:13], 16)
        return math.log((h + 1.0) / float(1 << 52)) / float(w)

    want = sorted(rows, key=lambda r: (-py_key(r[0], r[1]), r[0]))[:25]
    for parts in (1, 8):
        got = [(r["id"], r["w"]) for r in weighted_sample(
            df.repartition(parts), "id", "w", 25).collect()]
        assert sorted(got) == sorted(want)


def test_weighted_sample_prefers_heavy_rows(spark):
    from tilemaker_spark.operators.sampling import weighted_sample
    rows = [(f"h{i}", 1000) for i in range(20)] + \
           [(f"l{i}", 1) for i in range(200)]
    df = spark.createDataFrame(rows, "id string, w int")
    hot = 0
    for salt in range(5):
        got = weighted_sample(df, "id", "w", 20, salt=salt).collect()
        hot += sum(r["id"].startswith("h") for r in got)
    # 20 heavy rows carry 100x the weight mass of all 200 light rows
    assert hot >= 70  # >= 70% of 100 sampled slots across salts


def test_weighted_sample_plan_is_take_ordered(spark):
    from tilemaker_spark.operators.sampling import weighted_sample
    df = spark.createDataFrame([("a", 1)], "id string, w int")
    plan = weighted_sample(df, "id", "w", 5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_rejects_bad_k_and_zero_weights(spark):
    import pytest as _pt
    from tilemaker_spark.operators.sampling import weighted_sample
    df = spark.createDataFrame([("a", 0), ("b", 3)], "id string, w int")
    with _pt.raises(ValueError):
        weighted_sample(df, "id", "w", 0)
    got = weighted_sample(df, "id", "w", 10).collect()
    assert [r["id"] for r in got] == ["b"]
