"""Dedup + text-analysis operator tests with planted duplicates."""

import pytest
from pyspark.sql import functions as F

from tilemaker_spark.operators import dedup, text


@pytest.fixture(scope="module")
def docs(spark):
    base = ("the quick brown fox jumps over the lazy dog and then runs "
            "far away into the deep green forest tonight")
    rows = [
        (1, base, "src0"),
        (2, base, "src0"),                       # exact dup of 1
        (3, base.replace("tonight", "today"), "src0"),  # near dup of 1
        (4, "completely different text about spark and data pipelines "
            "running at large scale with shuffles", "src0"),
        (5, "the quick brown fox jumps over the lazy dog", "src1"),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, source string").cache()


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs).collect()
    by_id = {r["doc_id"]: r["n_dupes"] for r in out}
    assert by_id[1] == 2          # docs 1+2 collapse, min id kept
    assert 2 not in by_id
    assert len(out) == 4


def test_exact_dedup_normalization(spark):
    d = spark.createDataFrame(
        [(1, "Hello  World"), (2, "hello world"), (3, "HELLO\tWORLD")],
        "doc_id long, text string")
    out = dedup.exact_dedup(d).collect()
    assert len(out) == 1 and out[0]["n_dupes"] == 3


def test_minhash_finds_planted_near_dup(docs):
    pairs = dedup.minhash_lsh_pairs(
        docs, n_hashes=32, bands=16, k=5, jaccard_threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got          # exact dup always found
    assert (1, 3) in got and (2, 3) in got  # near dup found
    assert (1, 4) not in got


def test_ngram_jaccard_exact_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs, block_col="source", threshold=0.5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] > 0.8
    assert (1, 4) not in got
    assert (1, 5) not in got      # different block


def test_simhash_dups(docs):
    pairs = dedup.simhash_near_dups(docs, max_hamming=12)
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    assert got[(1, 2)] == 0
    assert (1, 3) in got


def test_minhash_signature_matches_per_doc_formula(spark):
    """The batch-vectorized signature path (flat bytes + lexsort +
    minimum.reduceat) must reproduce the per-document formula exactly,
    including edge cases (empty, shorter-than-k, whitespace-only)."""
    import re

    import numpy as np

    k, n_hashes = 5, 32
    rng0 = np.random.RandomState(0x5EED)
    a_j = (rng0.randint(0, 2**63, n_hashes, np.uint64) * 2 + 1).astype(
        np.uint64)
    b_j = rng0.randint(0, 2**63, n_hashes, np.uint64).astype(np.uint64)
    pows = np.array(
        [pow(1099511628211, i, 1 << 64) for i in range(k)], np.uint64)
    ws = re.compile(r"\s+")

    def mix(x):
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    def per_doc(t):
        b = np.frombuffer(ws.sub(" ", t.lower()).encode("utf-8"), np.uint8)
        if len(b) < k:
            b = np.pad(b, (0, k - len(b)), constant_values=32)
        win = np.lib.stride_tricks.sliding_window_view(b, k)
        s64 = np.unique(mix((win.astype(np.uint64) * pows).sum(axis=1)))
        hm = mix(a_j[:, None] * s64[None, :] + b_j[:, None]).min(axis=1)
        return s64.astype(np.int64), hm.astype(np.int64)

    short = ["the quick brown fox", "", "ab", "    ", "x\t\ny  z",
             "Unicode café über tile", "aaaaaaaaaa",
             "the quick brown fox"]
    long = [("tile engine shard %d " % i) * 40 for i in range(4)]
    # short batch takes the flat-vectorized kernel, long batch the
    # per-doc kernel (adaptive gate at avg 64 bytes) — both must equal
    # the reference formula
    for texts in (short, long):
        d = spark.createDataFrame(
            list(enumerate(texts)), "doc_id long, text string")
        got = {r["doc_id"]: r
               for r in dedup.minhash_signatures(d, n_hashes=n_hashes,
                                                 k=k).collect()}
        for i, t in enumerate(texts):
            s64, hm = per_doc(t)
            assert list(got[i]["sh"]) == list(s64), \
                f"shingles differ doc {i}"
            assert [got[i][f"h{j}"] for j in range(n_hashes)] == list(hm), \
                f"minhash differs doc {i}"


def test_simhash_matches_per_word_formula(spark):
    """The position-loop vectorized FNV + reduceat votes must equal the
    scalar per-word formula (hash_word) for every doc, incl. empties."""
    import numpy as np

    def per_doc(t):
        words = str(t).lower().split()
        if not words:
            return 0
        hs = np.asarray([dedup.hash_word(w) for w in set(words)], np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int32)
        votes = (2 * bits - 1).sum(axis=0)
        val = np.uint64(0)
        for b in range(64):
            if votes[b] > 0:
                val |= np.uint64(1) << np.uint64(b)
        return int(np.int64(val.astype(np.int64)))

    texts = ["the quick brown fox", "", "   ", "one", "café über",
             "a b c d e f g h i j k", "dup dup dup words words"]
    d = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string")
    got = {r["doc_id"]: r["simhash"] for r in dedup.simhash(d).collect()}
    for i, t in enumerate(texts):
        assert got[i] == per_doc(t), f"simhash differs doc {i}"


def test_text_stats_values(spark):
    d = spark.createDataFrame(
        [(1, "the cat and the hat. yes!")], "doc_id long, text string")
    r = text.text_stats(d).collect()[0]
    assert r["n_tokens"] == 6
    assert r["n_chars"] == 25
    # punct: '.', '!' -> 2/25
    assert r["punct_ratio"] == pytest.approx(0.08)
    # distinct tokens: the, cat, and, hat., yes! -> 5; stopword hits: the, and
    assert r["stopword_ratio"] == pytest.approx(0.4)


def test_lang_scores(spark):
    d = spark.createDataFrame(
        [(1, "the cat is on the mat and it is fine"),
         (2, "el gato y la casa de los perros"),
         (3, "xyzzy plugh")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in text.lang_scores(d).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "und"


def test_fingerprint_stable(docs):
    a = {r["doc_id"]: r["fp"] for r in text.fingerprint(docs).collect()}
    b = {r["doc_id"]: r["fp"] for r in text.fingerprint(docs).collect()}
    assert a == b
    assert a[1] == a[2]           # dups share fingerprints
    assert a[1] != a[4]


def test_lsh_bucket_cap_drops_mega_bucket(spark):
    """Mega-buckets (template/boilerplate clusters) above max_bucket_size
    are dropped (no O(b^2) blowup); pairs outside them are unaffected."""
    template = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 3
    rows = [(i, template, "t") for i in range(100, 130)]
    rows += [
        (1, "a unique document about geospatial tiling engines and spark "
            "execution plans tonight", "u"),
        (2, "a unique document about geospatial tiling engines and spark "
            "execution plans today", "u"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs = dedup.minhash_lsh_pairs(
        d, n_hashes=32, bands=16, k=5, jaccard_threshold=0.5,
        max_bucket_size=8)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert (1, 2) in got                       # small-bucket pair survives
    assert not any(a >= 100 for a, _ in got)   # mega-bucket dropped whole
    # without the cap the template pairs come back (cap is the only gate)
    uncapped = dedup.minhash_lsh_pairs(
        d, n_hashes=32, bands=16, k=5, jaccard_threshold=0.5,
        max_bucket_size=1000)
    got2 = {(r["doc_a"], r["doc_b"]) for r in uncapped.collect()}
    assert (100, 101) in got2


def test_prefix_join_equals_baseline(docs):
    """Prefix-filtering exact Jaccard join must produce EXACTLY the
    O(block^2) baseline's pairs — same ids, same jaccard values."""
    for t in (0.3, 0.5, 0.8):
        want = sorted(map(tuple, dedup.ngram_jaccard_pairs(
            docs, "text", "doc_id", block_col="source",
            threshold=t).collect()))
        got = sorted(map(tuple, dedup.jaccard_join_prefix(
            docs, "text", "doc_id", block_col="source",
            threshold=t).collect()))
        assert got == want, f"threshold {t}"


def test_prefix_join_random_corpus(spark):
    """Property test on a random synthetic corpus (shared vocabulary so
    true near-dups exist): prefix join == quadratic baseline at several
    thresholds, with and without blocking."""
    import random
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(80):
        n = rng.randint(3, 20)
        rows.append((i, " ".join(rng.choice(vocab) for _ in range(n)),
                     f"s{i % 2}"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    for block in (None, "source"):
        for t in (0.4, 0.7):
            want = sorted(map(tuple, dedup.ngram_jaccard_pairs(
                df, "text", "doc_id", block_col=block,
                threshold=t).collect()))
            got = sorted(map(tuple, dedup.jaccard_join_prefix(
                df, "text", "doc_id", block_col=block,
                threshold=t).collect()))
            assert got == want, (block, t, len(want), len(got))


def test_tfidf_top_terms_matches_python(spark):
    """Integer-exact tf-idf vs a pure-python reference over a planted
    corpus: exact scores, exact ranking, exact tie-breaks."""
    import collections
    rows = [
        (0, "apple apple banana cherry"),
        (1, "banana banana banana date"),
        (2, "apple cherry cherry cherry date date"),
        (3, "egg egg egg egg"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r["doc_id"], r["rank"], r["term"], r["score"])
           for r in text.tfidf_top_terms(df, top_k=2).collect()]

    n = len(rows)
    tf = {d: collections.Counter(t.split()) for d, t in rows}
    dfreq = collections.Counter(
        term for c in tf.values() for term in c)
    want = []
    for d, c in tf.items():
        scored = sorted(
            ((cnt * ((1_000_000 * (n + 1)) // (dfreq[t] + 1)), t)
             for t, cnt in c.items()),
            key=lambda p: (-p[0], p[1]))
        for rank, (score, t) in enumerate(scored[:2], start=1):
            want.append((d, rank, t, score))
    assert sorted(got) == sorted(want)


def test_tfidf_rare_term_beats_common(spark):
    """A document's unique term must outrank a corpus-wide stopword-ish
    term with equal tf (the property the idf exists for)."""
    rows = [(i, f"common uniq{i} common") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    top1 = {r["doc_id"]: r["term"]
            for r in text.tfidf_top_terms(df, top_k=1).collect()}
    assert top1 == {i: f"uniq{i}" for i in range(6)}


def _true_bpe_token_count(word, merges):
    # reference: Sennrich apply — rescan, lowest-rank pair, merge ALL
    # its occurrences left-to-right, repeat
    toks = list(word)
    rank = {m: i for i, m in enumerate(merges)}
    while True:
        pairs = {(toks[i], toks[i + 1]) for i in range(len(toks) - 1)}
        ranked = [p for p in pairs if p in rank]
        if not ranked:
            return len(toks)
        a, b = min(ranked, key=lambda p: rank[p])
        out, i = [], 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out


def test_bpe_encode_matches_true_bpe(spark):
    from tilemaker_spark.operators.text import bpe_encode_counts
    merges = [("t", "h"), ("th", "e"), ("i", "n"), ("in", "e"),
              ("e", "r"), ("s", "t"), ("r", "o"), ("a", "n"), ("o", "w")]
    # adversarial: runs that trip non-overlapping replace, chained
    # merges, vocabulary words, repeated merged tokens
    docs = ["erererer line the window stream",
            "gggg agg ggg the then there",
            "ininin thethe ererer st st st",
            "customer order filter merge vector scan",
            "a  double  space tail "]
    df = spark.createDataFrame([(f"d{i}", t) for i, t in enumerate(docs)],
                               "doc_id string, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_tokens"])
           for r in bpe_encode_counts(df, merges).collect()}
    for i, t in enumerate(docs):
        words = [w for w in t.lower().split(" ") if w]
        want = (len(words),
                sum(_true_bpe_token_count(w, merges) for w in words))
        assert got[f"d{i}"] == want, (t, got[f"d{i}"], want)


def test_bpe_encode_duckdb_twin(spark):
    import duckdb
    from tilemaker_spark.operators.text import (bpe_encode_counts,
                                                bpe_encode_oracle_sql)
    merges = [("e", "r"), ("er", "e"), ("a", "b")]
    docs = [("x1", "erere ababab erer"), ("x2", "rerere baba")]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = sorted(map(tuple, bpe_encode_counts(df, merges).collect()))
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id VARCHAR, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    want = sorted(map(tuple,
                      con.execute(bpe_encode_oracle_sql(merges)).fetchall()))
    assert got == want


def test_bpe_encode_rejects_space_in_merge(spark):
    import pytest as _pt
    from tilemaker_spark.operators.text import bpe_encode_counts
    df = spark.createDataFrame([("d", "x")], "doc_id string, text string")
    with _pt.raises(ValueError):
        bpe_encode_counts(df, [("a b", "c")])
    with _pt.raises(ValueError, match="self-pair"):
        bpe_encode_counts(df, [("g", "g")])


def _py_train_bpe(corpus_words, n_merges):
    # reference Sennrich trainer on (word, freq) pairs — guarantees the
    # merge list is VALID (every output token new), the precondition
    # the one-shot rank-order apply relies on
    from collections import Counter
    vocab = Counter(tuple(w) for w in corpus_words)
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for toks, f in vocab.items():
            for i in range(len(toks) - 1):
                pairs[(toks[i], toks[i + 1])] += f
        if not pairs:
            break
        (a, b), _f = max(pairs.items(), key=lambda kv: (kv[1], kv[0]))
        merges.append((a, b))
        newv = Counter()
        for toks, f in vocab.items():
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            newv[tuple(out)] += f
        vocab = newv
    return merges


def _replace_chain_count(word, merges):
    # EXACT python mirror of the Catalyst/DuckDB double-replace chain
    # (str.replace is the same literal non-overlapping left-to-right
    # semantics as Spark's replace() and DuckDB's replace())
    s = " " + " ".join(word) + " "
    for a, b in merges:
        for _ in range(2):
            s = s.replace(f" {a} {b} ", f" {a}{b} ")
    return len(s.split())


def test_bpe_replace_chain_equals_rescan_property():
    """Property (hypothesis): for any trained merge list WITHOUT
    self-pairs and any word over the same alphabet, the double-replace
    chain in rank order yields the SAME token count as the
    rescan-per-step reference — the restricted equivalence
    bpe_encode_counts enforces (an earlier unrestricted version of
    this property FOUND the self-pair divergence: 'bbbbba' under
    [(b,b),(bb,a)] -> 3 vs 4 tokens)."""
    from hypothesis import given, settings, strategies as st

    alpha = st.sampled_from("ab")
    word = st.text(alphabet=alpha, min_size=1, max_size=24)

    @settings(max_examples=200, deadline=None)
    @given(corpus=st.lists(word, min_size=2, max_size=8),
           probe=word,
           n_merges=st.integers(min_value=1, max_value=6))
    def check(corpus, probe, n_merges):
        # the operator REJECTS self-pair merges (a == b) — the property
        # test is what found the divergence; see bpe_encode_counts
        merges = [(a, b) for a, b in _py_train_bpe(corpus, n_merges)
                  if a != b]
        want = _true_bpe_token_count(probe, merges)
        got = _replace_chain_count(probe, merges)
        assert got == want, (probe, merges)

    check()


def test_edit_distance_join_exact_vs_bruteforce(spark):
    import itertools

    def lev(a, b):
        m, n = len(a), len(b)
        dp = list(range(n + 1))
        for i in range(1, m + 1):
            prev, dp[0] = dp[0], i
            for j in range(1, n + 1):
                cur = min(dp[j] + 1, dp[j - 1] + 1,
                          prev + (a[i - 1] != b[j - 1]))
                prev, dp[j] = dp[j], cur
        return dp[n]

    from tilemaker_spark.operators.dedup import edit_distance_join
    words = ["spark", "spahk", "spork", "sprk", "sparkle", "quartz",
             "quart", "quarts", "a", "ab", "abc", "xyz", "spark"]
    rows = [(f"w{i}", w) for i, w in enumerate(words)]
    df = spark.createDataFrame(rows, "id string, s string")
    got = sorted((r["id_a"], r["id_b"], r["dist"]) for r in
                 edit_distance_join(df, "id", "s", max_dist=2).collect())
    want = sorted(
        (min(a_id, b_id), max(a_id, b_id), lev(a, b))
        for (a_id, a), (b_id, b) in itertools.combinations(rows, 2)
        if lev(a, b) <= 2)
    assert got == want
    # every pair exactly once (incl. the identical-string pair w0/w12)
    assert len(got) == len({(a, b) for a, b, _ in got})


def test_edit_distance_join_bad_dist(spark):
    from tilemaker_spark.operators.dedup import edit_distance_join
    df = spark.createDataFrame([("a", "x")], "id string, s string")
    import pytest as _pt
    with _pt.raises(ValueError):
        edit_distance_join(df, "id", "s", max_dist=0)


# ---------------------------------------------------------------------------
# chunk_docs / bigram_surprise
# ---------------------------------------------------------------------------

def test_chunk_docs_hand_checked(spark):
    import hashlib
    words = [f"w{i}" for i in range(10)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "a b")], "doc_id long, text string")
    out = {(r.doc_id, r.chunk_id): r for r in text.chunk_docs(
        df, size=4, stride=3).collect()}
    # doc 1: n=10 -> n_chunks = 1 + ceil((10-4)/3) = 3; starts 0,3,6
    starts = {0: words[0:4], 1: words[3:7], 2: words[6:10]}
    assert {k for k in out if k[0] == 1} == {(1, 0), (1, 1), (1, 2)}
    for cid, toks in starts.items():
        r = out[(1, cid)]
        assert r.start_tok == cid * 3 and r.n_tok == len(toks)
        assert r.chunk_md5 == hashlib.md5(
            " ".join(toks).encode()).hexdigest()
    # doc 2 fits one chunk (shorter than size)
    r = out[(2, 0)]
    assert r.n_tok == 2 and r.chunk_md5 == hashlib.md5(b"a b").hexdigest()
    assert {k for k in out if k[0] == 2} == {(2, 0)}


def test_chunk_docs_covers_every_token(spark):
    import numpy as np
    rng = np.random.default_rng(3)
    rows = [(i, " ".join(rng.choice(list("abcdef"), rng.integers(1, 90))))
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.chunk_docs(df, size=16, stride=12).collect()
    for i, t in rows:
        n = len(t.split(" "))
        chunks = sorted((r.start_tok, r.n_tok) for r in out
                        if r.doc_id == i)
        # first chunk starts at 0, consecutive chunks overlap or touch,
        # last chunk reaches the document end
        assert chunks[0][0] == 0
        assert all(chunks[j + 1][0] <= chunks[j][0] + chunks[j][1]
                   for j in range(len(chunks) - 1))
        assert chunks[-1][0] + chunks[-1][1] == n
        # no chunk is a pure suffix of its predecessor: every
        # non-first chunk adds at least one new token
        assert all(chunks[j + 1][0] + chunks[j + 1][1]
                   > chunks[j][0] + chunks[j][1]
                   for j in range(len(chunks) - 1))


def test_bigram_surprise_matches_bruteforce(spark):
    from collections import Counter
    texts = {1: "a b a b c", 2: "a b a b a b", 3: "c c c a", 4: "solo"}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    out = {r.doc_id: r for r in text.bigram_surprise(
        df, scale=1000).collect()}
    # corpus model over all docs with >= 2 tokens
    bg = Counter()
    for t in texts.values():
        w = t.split(" ")
        for i in range(len(w) - 1):
            bg[(w[i], w[i + 1])] += 1
    pfx = Counter()
    for (a, _), c in bg.items():
        pfx[a] += c
    for did, t in texts.items():
        w = t.split(" ")
        if len(w) < 2:
            assert did not in out  # one-token docs are unscored
            continue
        surp = [1000 * pfx[w[i]] // bg[(w[i], w[i + 1])]
                for i in range(len(w) - 1)]
        r = out[did]
        assert r.n_bigrams == len(surp)
        assert r.surprise_sum == sum(surp)
        assert r.score == sum(surp) // len(surp)


@pytest.mark.parametrize("size,stride", [
    (1, 1), (4, 4), (4, 3), (16, 12), (32, 24), (7, 2)])
def test_chunk_docs_matches_python_reference(spark, size, stride):
    """Every (size, stride) contract detail vs a direct python
    reference: chunk count, starts, lengths, and md5s — across doc
    lengths 1..120 covering n < size, n == size, and the tail-chunk
    boundary cases."""
    import hashlib
    rows = [(n, " ".join(f"t{n}_{i}" for i in range(n)))
            for n in range(1, 121)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in text.chunk_docs(df, size=size, stride=stride).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_id, r.start_tok, r.n_tok, r.chunk_md5))
    for n, t in rows:
        toks = t.split(" ")
        n_chunks = 1 + (max(0, n - size) + stride - 1) // stride
        exp = []
        for c in range(n_chunks):
            chunk = toks[c * stride: c * stride + size]
            exp.append((c, c * stride, len(chunk), hashlib.md5(
                " ".join(chunk).encode()).hexdigest()))
        assert sorted(got[n]) == exp, f"n={n}"


def test_chunk_docs_rejects_gapping_stride(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="stride"):
        text.chunk_docs(df, size=4, stride=5)
