"""KMV distinct-count sketch (operators/sketches.py).

The operator's whole claim is merge-safety: the k smallest distinct
hashes of a union equal the k smallest of the per-partition k-smallest,
so the estimate must be BIT-IDENTICAL under any repartitioning — that
(not closeness) is what the cross-engine oracle hashes.
"""

import pytest

from tilemaker_spark.operators import sketches

K = 32


def _rows(spark, groups):
    rows = [(g, f"u{g}_{i % nd}")
            for g, nd in groups.items()
            for i in range(nd * 2)]  # duplicates: 2x each key
    return spark.createDataFrame(rows, "grp string, user string")


def test_exact_below_k(spark):
    df = _rows(spark, {"small": 7})
    out = sketches.kmv_distinct(df, "user", ["grp"], k=K, salt=1).collect()
    assert len(out) == 1
    r = out[0]
    assert r.est_distinct == 7 and r.sketch_size == 7


def test_estimate_above_k_is_close(spark):
    nd = 2000
    df = _rows(spark, {"big": nd})
    r = sketches.kmv_distinct(df, "user", ["grp"], k=64, salt=1).collect()[0]
    assert r.sketch_size == 64
    # KMV std error ~ 1/sqrt(k-1) ~ 12.6%; 40% is a deterministic-safe
    # bound for one fixed hash seed
    assert nd * 0.6 <= r.est_distinct <= nd * 1.4


def test_partition_independence_bit_exact(spark):
    df = _rows(spark, {"a": 500, "b": 20, "c": 1})
    base = sketches.kmv_distinct(
        df.coalesce(1), "user", ["grp"], k=K, salt=3)
    wide = sketches.kmv_distinct(
        df.repartition(7, "user"), "user", ["grp"], k=K, salt=3)
    assert sorted(map(tuple, base.collect())) == \
        sorted(map(tuple, wide.collect()))


def test_bad_k_rejected(spark):
    df = _rows(spark, {"a": 3})
    with pytest.raises(ValueError):
        sketches.kmv_distinct(df, "user", ["grp"], k=1)


def _exact_hh(rows, ppm):
    from collections import Counter
    c = Counter(k for k, in rows)
    total = len(rows)
    return sorted((k, n) for k, n in c.items()
                  if n * 1_000_000 >= total * ppm)


def test_heavy_hitters_exact_any_partitioning(spark):
    import random
    rng = random.Random(7)
    # adversarial: 3 planted hot keys + a long uniform noise tail far
    # wider than k, plus near-threshold keys that must resolve EXACTLY
    rows = ([("hot_a",)] * 900 + [("hot_b",)] * 500 + [("hot_c",)] * 120
            + [(f"edge_{i}",) for i in range(40) for _ in (0, 1)]
            + [(f"noise_{rng.randrange(20000)}",) for _ in range(8000)])
    rng.shuffle(rows)
    ppm = 10_000  # threshold ~ total/100
    want = _exact_hh(rows, ppm)
    df = spark.createDataFrame(rows, "k string")
    for parts in (1, 7, 32):
        got = sorted(map(tuple, sketches.heavy_hitters(
            df.repartition(parts), "k", ppm).collect()))
        assert got == want


def test_heavy_hitters_small_k_still_lossless(spark):
    # force k far below the distinct count so MG actually decrements
    rows = [("hh",)] * 300 + [(f"n{i}",) for i in range(900)]
    df = spark.createDataFrame(rows, "k string").repartition(5)
    got = sorted(map(tuple, sketches.heavy_hitters(
        df, "k", 100_000, k=8).collect()))
    assert got == _exact_hh(rows, 100_000)


def test_heavy_hitters_bad_ppm(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        sketches.heavy_hitters(df, "k", 0)


def test_kmv_set_ops_exact_below_k(spark):
    # both populations under k: theta = SPACE and every output is the
    # EXACT set algebra
    rows = ([("a", f"u{i}") for i in range(20)]
            + [("b", f"u{i}") for i in range(12, 40)])  # overlap 12..19
    df = spark.createDataFrame(rows * 3, "t string, user string")
    r = sketches.kmv_set_ops(df, "user", "t", "a", "b", k=64).collect()[0]
    assert (r.est_a, r.est_b) == (20, 28)
    assert r.est_intersect == 8 and r.est_union == 40
    assert (r.jaccard_num, r.jaccard_den) == (8, 40)


def test_kmv_set_ops_estimates_above_k(spark):
    rows = ([("a", f"u{i}") for i in range(1500)]
            + [("b", f"u{i}") for i in range(1000, 3000)])
    df = spark.createDataFrame(rows, "t string, user string")
    r = sketches.kmv_set_ops(df, "user", "t", "a", "b",
                             k=128, salt=2).collect()[0]
    # truth: |A|=1500 |B|=2000 |A∩B|=500 |A∪B|=3000
    assert 1500 * 0.65 <= r.est_a <= 1500 * 1.35
    assert 2000 * 0.65 <= r.est_b <= 2000 * 1.35
    assert 3000 * 0.65 <= r.est_union <= 3000 * 1.35
    assert 500 * 0.4 <= r.est_intersect <= 500 * 1.7
    # internal consistency: inclusion-exclusion within integer slack
    assert abs((r.est_a + r.est_b - r.est_intersect) - r.est_union) \
        <= r.est_union * 0.2


def test_kmv_set_ops_partition_independent(spark):
    rows = ([("a", f"u{i}") for i in range(400)]
            + [("b", f"u{i}") for i in range(200, 700)])
    df = spark.createDataFrame(rows, "t string, user string")
    outs = []
    for parts in (1, 9):
        outs.append(tuple(sketches.kmv_set_ops(
            df.repartition(parts), "user", "t", "a", "b",
            k=32, salt=7).collect()[0]))
    assert outs[0] == outs[1]


def test_grouped_topk_exact_vs_window(spark):
    import random
    rng = random.Random(19)
    rows = [(f"g{i % 6}", f"id{i:04d}", rng.randrange(1000))
            for i in range(3000)]
    # force k-boundary ties: duplicate values inside a group
    rows += [("g0", f"tie{i}", 777) for i in range(10)]
    df = spark.createDataFrame(rows, "g string, id string, v int")

    def want():
        from collections import defaultdict
        by = defaultdict(list)
        for g, i, v in rows:
            by[g].append((i, v))
        out = []
        for g, items in by.items():
            items.sort(key=lambda t: (-t[1], t[0]))
            out += [(g, i, v, rk + 1)
                    for rk, (i, v) in enumerate(items[:7])]
        return sorted(out)

    for parts in (1, 11):
        got = sorted(map(tuple, sketches.grouped_topk(
            df.repartition(parts), ["g"], "v", 7, "id").collect()))
        assert got == want()


def test_grouped_topk_ascending_and_small_groups(spark):
    rows = [("a", "x", 5), ("a", "y", 3), ("b", "z", 9)]
    df = spark.createDataFrame(rows, "g string, id string, v int")
    got = sorted(map(tuple, sketches.grouped_topk(
        df, ["g"], "v", 2, "id", ascending=True).collect()))
    assert got == [("a", "x", 5, 2), ("a", "y", 3, 1), ("b", "z", 9, 1)]
    import pytest as _pt
    with _pt.raises(ValueError):
        sketches.grouped_topk(df, ["g"], "v", 0, "id")


def test_selection_quantiles_exact(spark):
    import random
    rng = random.Random(23)
    vals = [rng.randrange(0, 100000) for _ in range(5000)]
    vals += [7] * 500 + [99999] * 3  # heavy ties + extreme tail
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    qs = (0, 250000, 500000, 900000, 990000, 1000000)
    got = {r["q_ppm"]: r["value"] for r in
           sketches.selection_quantiles(df, "x", qs).collect()}
    s = sorted(vals)
    n = len(s)
    for q in qs:
        assert got[q] == s[q * (n - 1) // 1_000_000], q


def test_selection_quantiles_negative_and_narrow(spark):
    df = spark.createDataFrame([(v,) for v in (-50, -50, -49, 3, 900)],
                               "x long")
    got = {r["q_ppm"]: r["value"] for r in
           sketches.selection_quantiles(df, "x", (0, 500000, 1000000))
           .collect()}
    assert got == {0: -50, 500000: -49, 1000000: 900}


def test_selection_quantiles_bad_input(spark):
    df = spark.createDataFrame([(None,)], "x long")
    with pytest.raises(ValueError):
        sketches.selection_quantiles(df, "x", (2_000_000,))
    with pytest.raises(ValueError):
        sketches.selection_quantiles(df, "x")


def _py_bloom_positions(key, m, k, salt):
    import hashlib
    return [int(hashlib.md5(f"{key}:{salt}:{i}".encode())
                .hexdigest()[:13], 16) % m for i in range(k)]


def test_bloom_prune_no_false_negatives_and_exact_fp(spark):
    M, K, SALT = 1 << 10, 3, 4  # tiny filter -> real false positives
    dim_keys = [f"d{i}" for i in range(80)]
    fact_keys = dim_keys * 2 + [f"f{i}" for i in range(2000)]
    dim = spark.createDataFrame([(v,) for v in dim_keys], "dk string")
    fact = spark.createDataFrame([(v,) for v in fact_keys], "fk string")
    got = sorted(r["fk"] for r in sketches.bloom_prune(
        fact, dim, "fk", "dk", m_bits=M, k_hashes=K, salt=SALT).collect())

    bits = set()
    for v in dim_keys:
        bits.update(_py_bloom_positions(v, M, K, SALT))
    want = sorted(v for v in fact_keys
                  if all(p in bits for p in
                         _py_bloom_positions(v, M, K, SALT)))
    assert got == want                       # bit-exact incl. FPs
    assert set(dim_keys) <= set(got)         # no false negatives
    fps = [v for v in got if v.startswith("f")]
    assert fps, "tiny filter should produce false positives"
    # fp rate sanity: ~ (1 - e^-kn/m)^k ~ 1.1% here; allow wide band
    assert len(set(fps)) < 200


def test_bloom_prune_probe_plan_is_shuffle_free(spark):
    dim = spark.createDataFrame([("a",)], "dk string")
    fact = spark.createDataFrame([("a",), ("b",)], "fk string")
    out = sketches.bloom_prune(fact, dim, "fk", "dk", m_bits=1 << 8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "BatchEvalPython" not in plan


def test_bloom_prune_bad_params(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        sketches.bloom_prune(df, df, "k", "k", m_bits=100)
    with pytest.raises(ValueError):
        sketches.bloom_prune(df, df, "k", "k", k_hashes=0)


def test_cm_estimate_one_sided_and_deterministic(spark):
    import random
    from collections import Counter
    rng = random.Random(31)
    keys = ([f"hot{i % 3}" for i in range(600)]
            + [f"cold{rng.randrange(500)}" for _ in range(2000)])
    truth = Counter(keys)
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    probes = spark.createDataFrame(
        [(k,) for k in ["hot0", "hot1", "cold1", "never_seen"]],
        "k string")
    outs = []
    for parts in (1, 8):
        got = {r["k"]: r["est"] for r in sketches.cm_estimate(
            df.repartition(parts), "k", probes,
            width=1 << 8, depth=4, salt=9).collect()}
        outs.append(got)
        n = len(keys)
        for k, est in got.items():
            assert est >= truth.get(k, 0)          # one-sided, always
            assert est - truth.get(k, 0) <= 4 * n // (1 << 8) + 200
    assert outs[0] == outs[1]                      # partitioning-free


def test_cm_estimate_exact_when_wide(spark):
    # width >> distinct keys: collisions vanish, estimates are exact
    keys = [f"k{i % 10}" for i in range(100)]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    probes = df.distinct()
    got = {r["k"]: r["est"] for r in sketches.cm_estimate(
        df, "k", probes, width=1 << 14, depth=4).collect()}
    assert got == {f"k{i}": 10 for i in range(10)}


def test_cm_estimate_bad_params(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError):
        sketches.cm_estimate(df, "k", df, width=1)
    with pytest.raises(ValueError):
        sketches.cm_estimate(df, "k", df, depth=9)


def test_kmv_set_ops_missing_tag_is_empty_not_negative(spark):
    rows = [("a", f"u{i}") for i in range(30)]
    df = spark.createDataFrame(rows, "t string, user string")
    r = sketches.kmv_set_ops(df, "user", "t", "a", "ghost", k=64) \
        .collect()[0]
    # 30 distinct < k: exact regime; the ghost side must read as the
    # EMPTY set (not null -> size -1 -> negative estimates)
    assert r.est_a == 30 and r.est_b == 0
    assert r.est_intersect == 0 and r.est_union == 30
    assert (r.jaccard_num, r.jaccard_den) == (0, 30)


def test_bloom_prune_rejects_giant_bitset(spark):
    df = spark.createDataFrame([("a",)], "k string")
    with pytest.raises(ValueError, match="2\\^24"):
        sketches.bloom_prune(df, df, "k", "k", m_bits=1 << 25)


def test_batched_mg_survival_guarantee_property():
    """Property (hypothesis): the BATCHED Misra-Gries decrement used in
    heavy_hitters (subtract the (len-k)-th
    smallest count from all, drop <= 0) preserves the classical MG
    guarantee — any key with total count > n/(k+1) survives with a
    positive counter, for any batch split of any stream."""
    from collections import Counter
    from hypothesis import given, settings, strategies as st
    import numpy as np

    key = st.sampled_from([f"k{i}" for i in range(12)])

    @settings(max_examples=200, deadline=None)
    @given(stream=st.lists(key, min_size=1, max_size=300),
           k=st.integers(min_value=2, max_value=6),
           n_batches=st.integers(min_value=1, max_value=5))
    def check(stream, k, n_batches):
        d = {}
        bs = max(1, len(stream) // n_batches)
        for s in range(0, len(stream), bs):
            for kk, c in Counter(stream[s:s + bs]).items():
                d[kk] = d.get(kk, 0) + c
            if len(d) > k:
                vals = np.sort(np.fromiter(d.values(), dtype="int64"))
                cut = int(vals[len(d) - k - 1])
                d = {kk: v - cut for kk, v in d.items() if v > cut}
        n = len(stream)
        truth = Counter(stream)
        for kk, c in truth.items():
            if c > n / (k + 1):
                assert kk in d and d[kk] > 0, (kk, c, n, k, d)

    check()


def test_analyze_table_counts_and_ndv(spark):
    rows = [(i % 40, f"s{i % 7}" if i % 5 else None)
            for i in range(1000)]
    df = spark.createDataFrame(rows, "a long, b string")
    got = {r["column"]: r for r in
           sketches.analyze_table(df, k=64).collect()}
    assert got["a"]["n_rows"] == 1000 and got["a"]["n_nulls"] == 0
    assert got["a"]["ndv_est"] == 40          # < k: exact
    assert got["b"]["n_rows"] == 1000 and got["b"]["n_nulls"] == 200
    assert got["b"]["ndv_est"] == 7
    # partitioning-independent
    again = {r["column"]: tuple(r) for r in sketches.analyze_table(
        df.repartition(9), k=64).collect()}
    assert again == {c: tuple(r) for c, r in got.items()}


# ---------------------------------------------------------------------------
# NULL-handling and overflow regressions (round-5 review findings)
# ---------------------------------------------------------------------------

def test_kmv_distinct_ignores_null_keys_keeps_null_groups(spark):
    rows = ([("g1", i) for i in range(30)] + [("g1", None)] * 5
            + [(None, i) for i in range(10)])
    df = spark.createDataFrame(rows, "g string, k long")
    got = {r["g"]: r for r in sketches.kmv_distinct(
        df, "k", ["g"], k=64).collect()}
    # nulls excluded from the distinct count (COUNT DISTINCT semantics)
    assert got["g1"]["est_distinct"] == 30
    # NULL group kept (SQL GROUP BY semantics)
    assert got[None]["est_distinct"] == 10


def test_kmv_set_ops_rejects_overflowing_k(spark):
    df = spark.createDataFrame([("a", 1)], "t string, user long")
    with pytest.raises(ValueError, match="1024"):
        sketches.kmv_set_ops(df, "user", "t", "a", "b", k=1025)
    # 1024 is the largest safe k: union count <= 2(k-1) = 2046 and
    # 2046 * 2^52 < 2^63
    sketches.kmv_set_ops(df, "user", "t", "a", "b", k=1024).collect()


def test_bloom_prune_null_keys(spark):
    fact = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "zz")], "id long, k string")
    dim = spark.createDataFrame([("a",), (None,)], "k string")
    got = sorted(r["id"] for r in sketches.bloom_prune(
        fact, dim, "k", "k", m_bits=1 << 12).collect())
    # null dim key builds nothing (can't equi-join); null fact key is
    # dropped (hit predicate is SQL-null) — exactly the semi-join rows
    # plus deterministic false positives; id=1 must survive
    assert 1 in got and 3 not in got


def test_grouped_topk_null_groups_and_null_order(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    rows = [("g", 5, 1), ("g", None, 2), ("g", 7, 3), ("g", 1, 4),
            (None, 3, 5), (None, None, 6)]
    df = spark.createDataFrame(rows, "g string, v long, id long")
    key = lambda t: (t[0] is None, t[0] or "", t[1], t[2])  # noqa: E731
    for asc in (False, True):
        got = sorted(
            ((r["g"], r["rk"], r["id"]) for r in sketches.grouped_topk(
                df.repartition(3), ["g"], "v", 2, "id",
                ascending=asc).collect()), key=key)
        order = (F.col("v").asc() if asc else F.col("v").desc())
        w = Window.partitionBy("g").orderBy(order, F.col("id").asc())
        want = sorted(
            ((r["g"], r["rk"], r["id"]) for r in df.withColumn(
                "rk", F.row_number().over(w))
            .where(F.col("rk") <= 2).collect()), key=key)
        assert got == want, f"ascending={asc}"


def test_heavy_hitters_ignores_null_keys(spark):
    rows = [(None,)] * 50 + [("a",)] * 40 + [("b",)] * 10
    df = spark.createDataFrame(rows, "k string")
    got = {r["k"]: r["n"] for r in sketches.heavy_hitters(
        df, "k", share_ppm=300_000).collect()}
    # 'a' holds 40% of the FULL 100-row table -> kept; nulls never
    # become a key but still count in the denominator
    assert got == {"a": 40}


def test_selection_quantiles_forked_ranges(spark):
    # quantiles that diverge into different buckets after pass 1 —
    # exercises the shared-histogram fork path
    import numpy as np
    rng = np.random.default_rng(11)
    vals = np.concatenate([rng.integers(0, 100, 5000),
                           rng.integers(10**9, 2 * 10**9, 5000)])
    df = spark.createDataFrame([(int(v),) for v in vals], "x long")
    got = {r["q_ppm"]: r["value"] for r in sketches.selection_quantiles(
        df, "x", q_ppms=(100000, 500000, 900000)).collect()}
    s = np.sort(vals)
    for q in (100000, 500000, 900000):
        assert got[q] == int(s[q * (len(s) - 1) // 1_000_000]), q
