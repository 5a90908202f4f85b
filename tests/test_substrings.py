"""Substring-duplication, repetition-filter, and BPE-trainer tests.

Each operator is checked two ways: against its DuckDB twin on the real
testdata (the same compare the driver's correctness gate runs) and
against planted fixtures with closed-form expected results.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.operators import substrings as S
from tilemaker_spark.operators import text as T

DOCS = "/root/testdata/sf0.001/documents.parquet"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from read_parquet('{DOCS}')")
    return con


def test_substring_dup_pairs_matches_oracle(spark, duck):
    df = spark.read.parquet(DOCS)
    got = sorted(
        tuple(r) for r in S.substring_dup_pairs(df, length=20).collect())
    want = sorted(
        tuple(r) for r in
        duck.execute(S.substring_dup_pairs_oracle_sql(length=20)).fetchall())
    assert got == want
    assert len(got) > 0


def test_substring_dup_planted_span(spark):
    """Two docs sharing one long verbatim span dominate the pair list;
    unrelated docs share nothing."""
    span = "x" * 0  # distinct filler below, shared span here
    shared = "the quick brown fox jumps over the lazy dog " * 4
    rows = [
        (1, "aaaa bbbb cccc dddd " * 10 + shared),
        (2, shared + "eeee ffff gggg hhhh " * 10),
        (3, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss " * 8),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # sample every position (all 16 hex digits) so the planted span is
    # counted exactly: shared 180-char span -> 180 - 20 + 1 sampled grams
    hexes = tuple("0123456789abcdef")
    got = {(r.doc_a, r.doc_b): r.n_shared_grams
           for r in S.substring_dup_pairs(
               df, length=20, sample_hex=hexes,
               max_gram_freq=10_000).collect()}
    assert (1, 2) in got
    n12 = got[(1, 2)]
    # every length-20 window fully inside the shared span matches, and
    # the span repeats internally, so matches >= windows in one copy
    assert n12 >= len(shared) - 20 + 1
    assert all(k == (1, 2) for k in got), got


def test_substring_mega_gram_cap(spark):
    """Boilerplate shared by every doc is dropped by the cap, and the cap
    is the only gate: lifted, every doc pair matches on it."""
    boiler = "all rights reserved standard footer text here"
    # per-doc prefix built from a doc-unique 2-char unit, so no 20-char
    # substring is shared between two prefixes (only the boiler repeats)
    rows = [(i, (chr(97 + i % 26) + chr(65 + i // 26)) * 15 + " " + boiler)
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hexes = tuple("0123456789abcdef")
    capped = S.substring_dup_pairs(df, length=20, sample_hex=hexes,
                                   max_gram_freq=8)
    assert capped.count() == 0  # every shared gram is in >8 docs
    uncapped = S.substring_dup_pairs(df, length=20, sample_hex=hexes,
                                     max_gram_freq=50)
    assert uncapped.count() == 50 * 49 // 2


def test_repetition_matches_oracle(spark, duck):
    df = spark.read.parquet(DOCS)
    got = sorted(tuple(r) for r in T.repetition_metrics(df).collect())
    want = sorted(tuple(r) for r in
                  duck.execute(T.repetition_metrics_oracle_sql()).fetchall())
    assert got == want


def test_repetition_flags_looping_text(spark):
    rows = [
        (1, "spam ham " * 50),                      # one bigram repeated
        (2, " ".join(f"w{i}" for i in range(100))),  # all-distinct tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in T.repetition_metrics(df).collect()}
    assert out[1].repetitive == 1
    assert out[1].dup_2gram_frac > 0.9
    assert out[2].repetitive == 0
    assert out[2].dup_token_frac == 0.0


def test_bpe_merge_counts_matches_oracle(spark, duck):
    df = spark.read.parquet(DOCS)
    got = [tuple(r) for r in T.bpe_merge_counts(df).collect()]
    want = [tuple(r) for r in
            duck.execute(T.bpe_merge_counts_oracle_sql()).fetchall()]
    assert got == want
    assert len(got) == 20


def test_caption_verify_flags_tampered_row(spark):
    """BASELINE per-row invariant, caption half: pristine table verifies
    100%; a corrupted row, and only it, is flagged."""
    from tilemaker_spark.operators import images as I
    from tilemaker_spark.sources import synth
    from pyspark.sql import functions as F

    img = synth.images_df(spark, 300, with_bytes=False)
    v = I.verify_captions(img)
    assert v.agg(F.sum("caption_ok")).collect()[0][0] == 300

    bad = img.withColumn(
        "caption",
        F.when(F.col("image_id") == "img_000000000007",
               F.lit("tampered")).otherwise(F.col("caption")))
    flagged = I.verify_captions(bad).filter("caption_ok = 0").collect()
    assert [r.image_id for r in flagged] == ["img_000000000007"]


# ------------------------------------------------------- decontamination
def test_decontaminate_planted(spark):
    """A training doc sharing an exact 5-gram with a benchmark doc is
    flagged with the right distinct-gram count; clean docs emit a zero
    row (not no row); short texts produce no grams."""
    bench = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog tonight")],
        "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "he saw the quick brown fox jumps over a fence"),   # 2 shared 5-grams
         (2, "completely unrelated text with no overlap at all whatsoever"),
         (3, "too short"),                                       # < 5 tokens
         (4, "the quick brown fox jumps over the lazy dog tonight")],  # full dup
        "doc_id long, text string")
    out = {r["doc_id"]: (r["n_overlap"], r["contaminated"])
           for r in T.decontaminate(corpus, bench, n=5).collect()}
    assert set(out) == {1, 2, 3, 4}
    # doc 1 shares "the quick brown fox jumps" and "quick brown fox jumps over"
    assert out[1] == (2, 1)
    assert out[2] == (0, 0)
    assert out[3] == (0, 0)
    # doc 4 is a verbatim copy: every one of its 10-5+1=6 grams leaks
    assert out[4] == (6, 1)


def test_decontaminate_matches_oracle(spark, duck):
    """Cross-engine parity on the real documents table (the driver's
    compare, inlined)."""
    import __spark_entry__ as E
    df = spark.read.parquet(DOCS)
    bench = df.filter(F.col("doc_id") % 37 == 0)
    corpus = df.filter(F.col("doc_id") % 37 != 0)
    got = sorted(tuple(r) for r in
                 T.decontaminate(corpus, bench, n=5).collect())
    want = sorted(tuple(r) for r in
                  duck.execute(E.sql_decontam()).fetchall())
    assert got == want
    assert len(got) > 400
    assert any(r[2] == 1 for r in got)  # the planted dup of a bench doc


# ----------------------------------------------------------- PII redaction
def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [(1, "mail me at a.b-c@test.org or 10.1.2.3 thanks"),
         (2, "no pii here at all"),
         (3, "two mails x@y.io and z@w.co plus 192.168.0.1")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in T.redact_pii(df).collect()}
    assert (out[1]["n_emails"], out[1]["n_ips"]) == (1, 1)
    assert (out[2]["n_emails"], out[2]["n_ips"]) == (0, 0)
    assert (out[3]["n_emails"], out[3]["n_ips"]) == (2, 1)
    # the fingerprint is of the REDACTED bytes: recompute one by hand
    import hashlib
    want = hashlib.md5(
        b"mail me at <EMAIL> or <IP> thanks").hexdigest()
    assert out[1]["clean_fp"] == want


class TestBoilerplateRemoval:
    def _run(self, spark, rows, **kw):
        from tilemaker_spark.operators.text import remove_boilerplate_lines
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return {r["doc_id"]: r for r in
                remove_boilerplate_lines(df, **kw).collect()}

    def test_hot_line_removed_unique_kept(self, spark):
        import hashlib
        boiler = "b1 b2 b3"
        rows = [(i, f"u{i}a u{i}b u{i}c {boiler}") for i in range(3)]
        rows.append((9, "x1 x2 x3 y1 y2 y3"))
        out = self._run(spark, rows, words_per_line=3, min_docs=3)
        for i in range(3):
            assert out[i]["n_lines"] == 2 and out[i]["n_removed"] == 1
            want = hashlib.md5(f"u{i}a u{i}b u{i}c".encode()).hexdigest()
            assert out[i]["clean_fp"] == want
        assert out[9]["n_removed"] == 0
        want9 = hashlib.md5(b"x1 x2 x3 y1 y2 y3").hexdigest()
        assert out[9]["clean_fp"] == want9

    def test_below_threshold_survives(self, spark):
        rows = [(0, "a b c"), (1, "a b c"), (2, "z z z")]
        out = self._run(spark, rows, words_per_line=3, min_docs=3)
        assert all(r["n_removed"] == 0 for r in out.values())

    def test_fully_boilerplate_doc_empty_fingerprint(self, spark):
        import hashlib
        rows = [(i, "same line here") for i in range(4)]
        out = self._run(spark, rows, words_per_line=3, min_docs=3)
        empty = hashlib.md5(b"").hexdigest()
        for r in out.values():
            assert r["n_removed"] == 1 and r["clean_fp"] == empty

    def test_short_tail_line_and_position_order(self, spark):
        import hashlib
        # 7 words -> lines of 3: "a b c", "d e f", "g"; middle line hot
        rows = [(i, f"a{i} b{i} c{i} hot hot hot g{i}") for i in range(3)]
        out = self._run(spark, rows, words_per_line=3, min_docs=3)
        for i in range(3):
            assert out[i]["n_lines"] == 3 and out[i]["n_removed"] == 1
            want = hashlib.md5(f"a{i} b{i} c{i} g{i}".encode()).hexdigest()
            assert out[i]["clean_fp"] == want
