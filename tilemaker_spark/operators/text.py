"""Text analysis operators (training-data quality pipeline).

All pure Catalyst column expressions — every metric has an exact ANSI-SQL
mirror for the DuckDB oracle (see ``__spark_entry__``): token counting,
quality scoring (length / punctuation / stopword ratios), n-gram language
scoring, and document fingerprinting (md5 of normalized text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for",
    "on", "with", "as", "by", "at", "this", "that", "be", "are",
]

PUNCT_CLASS = r"[^.,;:!?]"


def normalize(col):
    return F.regexp_replace(F.lower(col), r"\s+", " ")


def tokens(col):
    return F.split(F.trim(normalize(col)), " ")


def text_stats(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-doc metrics: n_tokens, n_chars, punct_ratio, stopword_ratio,
    uniq_ratio, quality_score.  All JVM-side expressions."""
    toks = tokens(F.col(text_col))
    n_tokens = F.size(toks)
    n_chars = F.length(F.col(text_col))
    n_punct = F.length(F.regexp_replace(F.col(text_col), PUNCT_CLASS, ""))
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks),
                          F.array(*[F.lit(s) for s in STOPWORDS_EN])))
    uniq = F.size(F.array_distinct(toks))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    stop_ratio = stop_hits.cast("double") / F.greatest(uniq, F.lit(1))
    uniq_ratio = uniq.cast("double") / F.greatest(n_tokens, F.lit(1))
    quality = (
        F.lit(0.4) * F.least(n_tokens.cast("double") / F.lit(100.0), F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * uniq_ratio
        - F.lit(0.5) * punct_ratio
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(uniq_ratio, 6).alias("uniq_ratio"),
        F.round(quality, 6).alias("quality_score"),
    )


def text_stats_oracle_sql(table: str = "documents", text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """DuckDB SQL computing exactly :func:`text_stats`."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS_EN)
    norm = f"regexp_replace(lower({text_col}), '\\s+', ' ', 'g')"
    toks = f"string_split(trim({norm}), ' ')"
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id,
         len({toks}) AS n_tokens,
         length({text_col}) AS n_chars,
         length(regexp_replace({text_col}, '{PUNCT_CLASS}', '', 'g')) AS n_punct,
         len(list_intersect(list_distinct({toks}), [{stop_list}])) AS stop_hits,
         len(list_distinct({toks})) AS uniq
  FROM {table}
)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       CAST(n_chars AS INTEGER) AS n_chars,
       round(CAST(n_punct AS double) / greatest(n_chars, 1), 6) AS punct_ratio,
       round(CAST(stop_hits AS double) / greatest(uniq, 1), 6) AS stopword_ratio,
       round(CAST(uniq AS double) / greatest(n_tokens, 1), 6) AS uniq_ratio,
       round(0.4 * least(CAST(n_tokens AS double) / 100.0, 1.0)
             + 0.3 * (CAST(stop_hits AS double) / greatest(uniq, 1))
             + 0.3 * (CAST(uniq AS double) / greatest(n_tokens, 1))
             - 0.5 * (CAST(n_punct AS double) / greatest(n_chars, 1)),
             6) AS quality_score
FROM base
"""


LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ist"],
}


def lang_scores(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """n-gram-heuristic language ID: per-language marker-word hit counts
    and the argmax prediction (ties -> lexicographic, deterministic).
    Output: (doc_id, en_hits, es_hits, fr_hits, de_hits, lang_pred)."""
    toks = F.array_distinct(tokens(F.col(text_col)))
    hits = {
        lang: F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*hits.values())
    pred = F.when(best == F.lit(0), F.lit("und"))
    for lang in sorted(LANG_MARKERS):
        pred = pred.when(hits[lang] == best, F.lit(lang))
    return df.select(
        F.col(id_col).alias("doc_id"),
        *[hits[lang].alias(f"{lang}_hits") for lang in LANG_MARKERS],
        pred.alias("lang_pred"),
    )


def lang_scores_oracle_sql(table: str = "documents", text_col: str = "text",
                           id_col: str = "doc_id") -> str:
    norm = f"regexp_replace(lower({text_col}), '\\s+', ' ', 'g')"
    toks = f"list_distinct(string_split(trim({norm}), ' '))"
    hits_sql = {
        lang: (
            f"CAST(len(list_intersect({toks}, "
            f"[{', '.join(repr(w) for w in words)}])) AS INTEGER)"
        )
        for lang, words in LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(
        f"{lang}_hits" for lang in LANG_MARKERS) + ")"
    pred_cases = " ".join(
        f"WHEN {lang}_hits = {best} THEN '{lang}'"
        for lang in sorted(LANG_MARKERS)
    )
    hit_cols = ",\n         ".join(
        f"{expr} AS {lang}_hits" for lang, expr in hits_sql.items())
    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id,
         {hit_cols}
  FROM {table}
)
SELECT doc_id, en_hits, es_hits, fr_hits, de_hits,
       CASE WHEN {best} = 0 THEN 'und' {pred_cases} END AS lang_pred
FROM base
"""


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: md5 of normalized text + first-8-hex-digit
    int bucket (both engines compute identical md5 hex)."""
    norm = normalize(F.col(text_col))
    h = F.md5(norm)
    return df.select(
        F.col(id_col).alias("doc_id"),
        h.alias("fp"),
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("fp_bucket"),
    )


# GPT-2-style pre-tokenizer pattern, restricted to the regex subset both
# Java (Spark) and RE2 (DuckDB) implement identically: contraction
# suffixes, space-prefixed letter runs, digit runs, punctuation runs.
# (The original GPT-2 pattern's whitespace alternatives `\s+(?!\S)|\s+`
# are dropped — RE2 has no lookahead, and for COUNTING, whitespace
# between tokens is simply unmatched text the scan skips; a leading
# space still attaches to the following token via ` ?`, matching GPT-2's
# dominant tokenization.)
BPE_PRETOKEN_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^\s\p{L}\p{N}]+"
)


def bpe_token_count(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """BPE-ish token count per document: the GPT-2 pre-tokenizer split
    (what a byte-pair encoder runs before merges), counted JVM-side with
    ``regexp_count`` — the standard "how many tokens will this cost"
    estimator a training pipeline runs over every document — plus a
    chars-per-token ratio as the compression signal (whitespace between
    tokens is unmatched text the scan skips, see BPE_PRETOKEN_RE).
    Output: (doc_id, n_pretokens, n_chars, chars_per_token)."""
    n_tok = F.regexp_count(F.col(text_col),
                           F.lit(BPE_PRETOKEN_RE)).cast("long")
    n_chars = F.length(text_col).cast("long")
    return df.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_pretokens"),
        n_chars.alias("n_chars"),
        F.round(n_chars.cast("double")
                / F.greatest(n_tok, F.lit(1)).cast("double"), 6)
        .alias("chars_per_token"),
    )


def bpe_token_count_oracle_sql(table: str = "documents",
                               text_col: str = "text",
                               id_col: str = "doc_id") -> str:
    """DuckDB twin — identical pattern (RE2 \\p{L}/\\p{N} classes match
    Java's for the BMP text in the corpus)."""
    pat = BPE_PRETOKEN_RE.replace("'", "''")
    return f"""
WITH c AS (
  SELECT {id_col} AS doc_id,
         len(regexp_extract_all({text_col}, '{pat}')) AS n_tok,
         length({text_col}) AS n_chars
  FROM {table}
)
SELECT doc_id,
       CAST(n_tok AS BIGINT) AS n_pretokens,
       CAST(n_chars AS BIGINT) AS n_chars,
       round(CAST(n_chars AS double)
             / greatest(n_tok, 1), 6) AS chars_per_token
FROM c
"""


def repetition_metrics(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id",
                       dup_2gram_max: float = 0.20,
                       dup_3gram_max: float = 0.18) -> DataFrame:
    """Within-document repetition filters (the Gopher quality rules,
    Rae et al. 2021 §A1.1, adapted from char-fraction to count-fraction):
    the fraction of token n-grams that are duplicates of an earlier
    occurrence.  Heavily templated / looping documents (a common failure
    mode of web scrapes AND of model-generated text) score high and are
    flagged.  Pure Catalyst — the n-gram arrays are built with
    ``transform(sequence(...))``, no Python, no shuffle (per-row
    projection; a 100 TB corpus runs this as a map-only stage).

    Output: (doc_id, n_tokens, dup_token_frac, dup_2gram_frac,
    dup_3gram_frac, repetitive).
    """
    def dup_frac(ngrams):
        n = F.size(ngrams)
        return F.when(
            n > 0,
            F.round(F.lit(1.0) - F.size(F.array_distinct(ngrams))
                    .cast("double") / n.cast("double"), 6),
        ).otherwise(F.lit(0.0))

    def ngrams(n):
        return F.when(
            F.size(F.col("_toks")) >= n,
            F.expr(f"transform(sequence(1, size(_toks) - {n - 1}), "
                   f"i -> concat_ws(' ', slice(_toks, i, {n})))"),
        ).otherwise(F.array().cast("array<string>"))

    base = df.select(F.col(id_col).alias("doc_id"),
                     tokens(F.col(text_col)).alias("_toks"))
    d1 = dup_frac(F.col("_toks"))
    d2 = dup_frac(ngrams(2))
    d3 = dup_frac(ngrams(3))
    return base.select(
        "doc_id",
        F.size("_toks").alias("n_tokens"),
        d1.alias("dup_token_frac"),
        d2.alias("dup_2gram_frac"),
        d3.alias("dup_3gram_frac"),
        ((d2 > dup_2gram_max) | (d3 > dup_3gram_max))
        .cast("int").alias("repetitive"),
    )


def repetition_metrics_oracle_sql(table: str = "documents",
                                  text_col: str = "text",
                                  id_col: str = "doc_id",
                                  dup_2gram_max: float = 0.20,
                                  dup_3gram_max: float = 0.18) -> str:
    """DuckDB twin of :func:`repetition_metrics` (same normalize/tokenize,
    same n-gram construction, same rounding)."""
    norm = f"regexp_replace(lower({text_col}), '\\s+', ' ', 'g')"
    toks = f"string_split(trim({norm}), ' ')"

    def ng(n):
        return (f"list_transform(generate_series(1, "
                f"greatest(len(toks) - {n - 1}, 0)), "
                f"i -> array_to_string(toks[i:i+{n - 1}], ' '))")

    def dup(col):
        return (f"CASE WHEN len({col}) > 0 THEN round(1.0 - "
                f"CAST(len(list_distinct({col})) AS double)"
                f" / len({col}), 6) ELSE 0.0 END")

    return f"""
WITH base AS (
  SELECT {id_col} AS doc_id, {toks} AS toks FROM {table}
),
grams AS (
  SELECT doc_id, toks, {ng(2)} AS g2, {ng(3)} AS g3 FROM base
)
SELECT doc_id,
       CAST(len(toks) AS INTEGER) AS n_tokens,
       {dup('toks')} AS dup_token_frac,
       {dup('g2')} AS dup_2gram_frac,
       {dup('g3')} AS dup_3gram_frac,
       CAST(({dup('g2')} > {dup_2gram_max}
             OR {dup('g3')} > {dup_3gram_max}) AS int) AS repetitive
FROM grams
"""


def bpe_merge_counts(df: DataFrame, text_col: str = "text",
                     top_k: int = 20) -> DataFrame:
    """One BPE training iteration, distributed: adjacent-symbol-pair
    counts over the corpus, weighted by word frequency (Sennrich et al.
    2016).  The classic scale shape: the corpus collapses to a compact
    (word, freq) vocabulary first (ONE shuffle over the corpus — at
    100 TB the vocab is millions of rows, not trillions), and the
    quadratic-ish pair expansion runs over the vocab only.  Pure
    Catalyst end-to-end.  Output: top ``top_k`` (pair, n) by count,
    ties broken lexicographically."""
    words = (df.select(F.explode(tokens(F.col(text_col))).alias("w"))
             .filter(F.length("w") >= 2))
    vocab = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    pairs = vocab.select(
        "freq",
        F.explode(F.expr(
            "transform(sequence(1, length(w) - 1), "
            "i -> concat(substring(w, i, 1), ' ', substring(w, i+1, 1)))"
        )).alias("pair"))
    return (pairs.groupBy("pair").agg(F.sum("freq").alias("n"))
            .orderBy(F.desc("n"), F.asc("pair")).limit(top_k))


def bpe_merge_counts_oracle_sql(table: str = "documents",
                                text_col: str = "text",
                                top_k: int = 20) -> str:
    norm = f"regexp_replace(lower({text_col}), '\\s+', ' ', 'g')"
    toks = f"string_split(trim({norm}), ' ')"
    return f"""
WITH words AS (
  SELECT unnest({toks}) AS w FROM {table}
),
vocab AS (
  SELECT w, count(*) AS freq FROM words WHERE length(w) >= 2 GROUP BY w
),
pairs AS (
  SELECT unnest(list_transform(generate_series(1, length(w) - 1),
                i -> substr(w, i, 1) || ' ' || substr(w, i+1, 1))) AS pair,
         freq
  FROM vocab
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT {int(top_k)}
"""


def tfidf_top_terms(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", top_k: int = 3,
                    idf_scale: int = 1_000_000) -> DataFrame:
    """Per-document distinctive terms by an INTEGER-EXACT tf-idf
    variant: ``score = tf · (idf_scale·(N+1) div (df+1))`` — the
    classic smoothed idf with the logarithm replaced by a scaled
    integer reciprocal, so the score (and therefore the ranking and
    the cross-engine hash) involves no floating point anywhere.  The
    reciprocal is order-isomorphic to ``-log`` in df, so top-k by this
    score is top-k by smoothed tf-idf whenever tf ties don't
    interleave — and ties break deterministically (score desc, term
    asc) in both engines regardless.

    Scale shape (the canonical inverted-index build): explode →
    ``groupBy(doc, term)`` tf agg (map-side combine does most of the
    work) → term document-frequency agg over the ALREADY-distinct
    (doc, term) table (so df is a count, not a countDistinct) → join
    the per-term idf back (a term-keyed equi-join; the term dim is
    vocabulary-sized, millions of rows at 100 TB — Catalyst/AQE picks
    broadcast vs shuffle-hash) → per-doc top-k window.  One extra
    1-row ``count()`` action fetches N.  Output: doc_id, rank, term, score."""
    n_docs = df.count()
    exploded = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"))
    tf = exploded.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = dfreq.select(
        "term",
        F.expr(f"CAST({int(idf_scale)} AS BIGINT) * {int(n_docs) + 1} "
               f"div (df + 1)").alias("idf_scaled"))
    scored = tf.join(idf, "term").select(
        "doc_id", "term", (F.col("tf") * F.col("idf_scaled")).alias("score"))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_k)
            .select("doc_id", "rank", "term", "score"))


def tfidf_top_terms_oracle_sql(table: str = "documents",
                               text_col: str = "text",
                               id_col: str = "doc_id", top_k: int = 3,
                               idf_scale: int = 1_000_000) -> str:
    """DuckDB twin of :func:`tfidf_top_terms` — same integer idf,
    same tie-break."""
    norm = f"regexp_replace(lower({text_col}), '\\s+', ' ', 'g')"
    toks = f"string_split(trim({norm}), ' ')"
    return f"""
WITH n AS (SELECT count(*) AS n_docs FROM {table}),
exploded AS (
  SELECT {id_col} AS doc_id, unnest({toks}) AS term FROM {table}
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM exploded GROUP BY doc_id, term
),
idf AS (
  SELECT term,
         CAST({int(idf_scale)} AS BIGINT) * (n.n_docs + 1) // (count(*) + 1)
           AS idf_scaled
  FROM tf, n GROUP BY term, n.n_docs
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf * idf.idf_scaled AS score
  FROM tf JOIN idf USING (term)
),
ranked AS (
  SELECT doc_id, term, score,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, CAST(rank AS int) AS rank, term, CAST(score AS BIGINT) AS score
FROM ranked WHERE rank <= {int(top_k)}
"""


def word_ngrams(col, n: int):
    """Word n-grams (space-joined) over :func:`tokens` as a pure
    Catalyst array expression; empty array for texts shorter than
    ``n`` tokens (Spark's ``sequence`` would otherwise count DOWN for
    a negative span and fabricate grams)."""
    t = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
    return F.when(F.size(t) >= n, grams).otherwise(
        F.array().cast("array<string>"))


def decontaminate(df: DataFrame, bench_df: DataFrame,
                  text_col: str = "text", id_col: str = "doc_id",
                  n: int = 5) -> DataFrame:
    """Benchmark decontamination (Brown et al. 2020 appendix C; Dodge
    et al. EMNLP 2021's C4 audit): flag every training document that
    shares ANY word ``n``-gram with a held-out benchmark/eval set, and
    count how many distinct grams leak.  This is the hygiene pass every
    serious LLM data pipeline runs so eval numbers aren't memorization.

    Scale shape (the corpus side never self-joins): the benchmark is
    the SMALL dim — eval suites are thousands of documents against a
    10^12-row corpus — so its distinct gram set builds in one tiny
    aggregation and BROADCASTS.  The corpus explodes distinct
    (doc, gram) pairs (one shuffle with map-side partial distinct),
    hash-joins the broadcast gram set, and re-aggregates per-doc
    overlap counts (second shuffle, compact ``id_col`` key).  Clean
    documents are preserved by a final left join against the corpus id
    projection, so the output is one row per training doc regardless
    of contamination.  Output: ``id_col``, ``n_overlap: int``,
    ``contaminated: int`` (0/1) — integer-exact cross-engine.
    """
    grams = word_ngrams(F.col(text_col), n)
    bench_grams = (bench_df
                   .select(F.explode(grams).alias("gram"))
                   .distinct())
    corpus_grams = (df
                    .select(F.col(id_col), F.explode(grams).alias("gram"))
                    .distinct())
    overlap = (corpus_grams
               .join(F.broadcast(bench_grams), "gram")
               .groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_overlap")))
    return (df.select(id_col)
            .join(overlap, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("n_overlap"), F.lit(0))
                 .cast("int").alias("n_overlap"),
                (F.coalesce(F.col("n_overlap"), F.lit(0)) > 0)
                 .cast("int").alias("contaminated")))


# PII patterns deliberately restricted to the regex subset whose
# semantics are IDENTICAL in Java regex (Spark, executor-side codegen)
# and RE2 (DuckDB oracle): character classes spelled [0-9] (never \d),
# no word boundaries, no backrefs, no lookaround.
PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """PII scrubbing (the redaction pass every public-web training
    pipeline runs before tokenization — cf. the C4/Gopher/RefinedWeb
    cleaning stages): count and strip email addresses and IPv4
    literals, replacing them with typed placeholder tags so downstream
    span offsets stay meaningful.

    Scale shape: map-only JVM ``regexp_count``/``regexp_replace``
    inside whole-stage codegen — ZERO shuffles and zero Python at any
    corpus size; order of the two rewrites is fixed (emails first) so
    the output bytes are deterministic.  Output: ``id_col``,
    ``n_emails: int``, ``n_ips: int``, ``clean_fp`` (md5 of the
    redacted text — the oracle hash therefore verifies the REDACTED
    BYTES, not just the counts)."""
    c = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(c, PII_EMAIL, "<EMAIL>"), PII_IPV4, "<IP>")
    return df.select(
        F.col(id_col),
        F.regexp_count(c, F.lit(PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(c, F.lit(PII_IPV4)).cast("int").alias("n_ips"),
        F.md5(redacted).alias("clean_fp"))


def remove_boilerplate_lines(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text",
                             words_per_line: int = 10,
                             min_docs: int = 3) -> DataFrame:
    """C4-style boilerplate-line removal (Raffel et al. 2020 §2.2): drop
    every line that occurs in >= ``min_docs`` DISTINCT documents, then
    rewrite each document from its surviving lines — the dedup stage
    that REMOVES repeated boilerplate ("click here to subscribe")
    rather than whole near-duplicate documents.

    The corpus here is single-line, so a "line" is a fixed
    ``words_per_line``-word chunk (the same convention line-less corpora
    use); real newline-delimited text would swap the chunker for
    ``split(text, '\\n')`` and nothing else changes.

    Output: (id, n_lines, n_removed, clean_fp = md5 of the rewritten
    text) — the fingerprint makes the REWRITE itself cross-engine
    verifiable, not just the counts.

    Plan (3 shuffles, zero UDF): chunk via sequence/slice/posexplode in
    pure Catalyst -> line-frequency agg (map-side combined; the hot-line
    dictionary is the only distinct-line state) -> join lines against
    hot lines (AQE broadcasts the hot side when small, which at corpus
    scale it is: boilerplate is by definition the repeated minority) ->
    per-doc re-agg in position order.  No self-join, no all-pairs.
    """
    words = F.split(F.col(text_col), " ")
    n_lines = F.ceil(F.size(words) / F.lit(float(words_per_line)))
    lines = (df.select(
        F.col(id_col),
        F.posexplode(F.transform(
            F.sequence(F.lit(1), n_lines.cast("int")),
            lambda i: F.array_join(
                F.slice(words, (i - 1) * words_per_line + 1,
                        words_per_line), " ")))
        .alias("pos", "line")))
    hot = (lines.groupBy("line")
           .agg(F.countDistinct(id_col).alias("nd"))
           .filter(F.col("nd") >= min_docs)
           .select("line"))
    kept = lines.join(hot, "line", "left_anti")
    per_doc = (kept.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_kept"),
                    F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "line"))),
                            lambda s: s["line"]), " ").alias("clean")))
    totals = df.select(F.col(id_col), n_lines.cast("long").alias("n_lines"))
    return (totals.join(per_doc, id_col, "left")
            .select(
                id_col, "n_lines",
                (F.col("n_lines") - F.coalesce(F.col("n_kept"), F.lit(0)))
                .cast("long").alias("n_removed"),
                F.md5(F.coalesce(F.col("clean"), F.lit("")))
                .alias("clean_fp")))


def remove_boilerplate_oracle_sql(table: str = "documents",
                                  id_col: str = "doc_id",
                                  text_col: str = "text",
                                  words_per_line: int = 10,
                                  min_docs: int = 3,
                                  source_cte: str | None = None) -> str:
    """DuckDB twin of :func:`remove_boilerplate_lines` — independent
    chunking (1-based inclusive list slices + lateral generate_series)
    and an explicit total/kept anti-join reconciliation."""
    src = source_cte or f"SELECT {id_col}, {text_col} FROM {table}"
    w = words_per_line
    return f"""
WITH src AS ({src}),
ws AS (
  SELECT {id_col} AS id, string_split({text_col}, ' ') AS words FROM src
),
lines AS (
  SELECT id, i AS pos,
         array_to_string(words[((i-1)*{w}+1):(i*{w})], ' ') AS line
  FROM ws, LATERAL (SELECT unnest(generate_series(
       1, CAST(ceil(len(words)/{w}.0) AS BIGINT))) AS i) g
),
hot AS (
  SELECT line FROM lines GROUP BY line
  HAVING count(DISTINCT id) >= {min_docs}
),
kept AS (
  SELECT l.* FROM lines l WHERE l.line NOT IN (SELECT line FROM hot)
),
per_doc AS (
  SELECT id, count(*) AS n_kept,
         string_agg(line, ' ' ORDER BY pos) AS clean
  FROM kept GROUP BY id
),
totals AS (
  SELECT id, CAST(ceil(len(words)/{w}.0) AS BIGINT) AS n_lines FROM ws
)
SELECT t.id AS {id_col}, t.n_lines,
       t.n_lines - coalesce(p.n_kept, 0) AS n_removed,
       md5(coalesce(p.clean, '')) AS clean_fp
FROM totals t LEFT JOIN per_doc p ON t.id = p.id
"""


def bpe_encode_counts(df: DataFrame, merges: list[tuple[str, str]],
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """APPLY a BPE tokenizer (the encode side of BPE — Sennrich et al.
    2016 §3): per document, the exact token count after
    applying ``merges`` in rank order, plus the pre-merge word count.

    The whole encoder is pure Catalyst string algebra, zero UDF: each
    word becomes a space-separated char sequence (`` l o w ``), and
    every merge (a, b) is TWO chained literal ``replace(s, ' a b ',
    ' ab ')`` calls.  Two calls per merge because left-to-right
    non-overlapping replace consumes the shared boundary space between
    adjacent occurrences; with a != b the occurrences are
    token-disjoint, so after one pass every unmerged occurrence is
    flanked by merged neighbors and the second pass finishes — the
    chain is then EXACTLY the rescan-per-step reference (hypothesis
    property test over genuinely TRAINED merge lists).  Self-pair
    merges (a == b) are rejected: there the replace chain pairs run
    positions differently than the reference and downstream merges can
    diverge (found by the property test; see the ValueError).  Merges
    one-shot in rank order equal the reference for trained lists:
    tokens never vanish (they only concatenate), so a later merge
    cannot create adjacency for an earlier one, and every merge's
    output token is new, so later merges cannot emit an earlier
    merge's operands.

    Merges are plan literals (a published tokenizer is a model
    artifact, applied, not recomputed); the DuckDB oracle replays the
    byte-identical replace chain.  Map-only: per-doc aggregation runs
    inside ``F.aggregate`` over the word array — zero shuffles at any
    corpus size.
    """
    for a, b in merges:
        if " " in a or " " in b or not a or not b:
            raise ValueError(f"bad merge pair ({a!r}, {b!r})")
        if a == b:
            # self-pair merges are OUT OF SCOPE: for a run of >= 5
            # identical tokens, non-overlapping replace pairs
            # (0,1),(3,4),... while the rescan reference pairs
            # (0,1),(2,3),... — same count per merge, different
            # TOKENIZATION, and a later merge can then diverge
            # (hypothesis counterexample: 'bbbbba' under
            # [(b,b),(bb,a)] -> 3 vs 4 tokens).  For a != b the
            # occurrences are token-disjoint, no rescan of the same
            # merge can create new ones, and the two-pass chain is
            # EXACT (property-tested over trained merge lists).
            raise ValueError(
                f"self-pair merge ({a!r}, {b!r}) unsupported: "
                "replace-chain tokenization diverges from the rescan "
                "reference on odd runs >= 5")
    ws = F.split(F.lower(F.col(text_col)), " ")

    def encode(word):
        s = F.concat(F.lit(" "),
                     F.regexp_replace(word, "(.)", "$1 "))
        for a, b in merges:
            for _ in range(2):
                s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}{b} "))
        return s

    n_tokens_word = F.transform(
        F.filter(ws, lambda w: w != ""),
        lambda w: F.size(F.split(F.trim(encode(w)), " ")))
    return df.select(
        F.col(id_col),
        F.size(n_tokens_word).alias("n_words"),
        F.aggregate(n_tokens_word, F.lit(0),
                    lambda acc, x: acc + x).alias("n_tokens"))


def bpe_encode_oracle_sql(merges: list[tuple[str, str]],
                          table: str = "documents",
                          text_col: str = "text",
                          id_col: str = "doc_id") -> str:
    """DuckDB twin of :func:`bpe_encode_counts`: identical char split
    and double-replace chain, per-word via unnest + GROUP BY."""
    enc = "(' ' || regexp_replace(word, '(.)', '\\1 ', 'g'))"
    for a, b in merges:
        for _ in range(2):
            enc = f"replace({enc}, ' {a} {b} ', ' {a}{b} ')"
    return f"""
WITH w AS (
  SELECT {id_col}, unnest(string_split(lower({text_col}), ' ')) AS word
  FROM {table}
), e AS (
  SELECT {id_col}, len(string_split(trim({enc}), ' ')) AS nt
  FROM w WHERE word <> ''
)
SELECT {id_col}, CAST(count(*) AS INTEGER) AS n_words,
       CAST(sum(nt) AS INTEGER) AS n_tokens
FROM e GROUP BY 1
"""


def chunk_docs(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", size: int = 32,
               stride: int = 24) -> DataFrame:
    """Overlapping token-window chunking (the RAG / context-window
    prep step: split every document into ``size``-token chunks that
    advance by ``stride`` tokens, so consecutive chunks share
    ``size - stride`` tokens of overlap).

    Chunk starts are 0, stride, 2·stride, …; the last chunk is the
    first whose end reaches the document end, so every token lands in
    at least one chunk and no chunk is a pure suffix of its
    predecessor: ``n_chunks = 1 + (max(0, n-size) + stride - 1) div
    stride`` — integer arithmetic only, identical cross-engine.

    Output: (doc_id, chunk_id, start_tok, n_tok, chunk_md5) — the md5
    of the re-joined chunk text verifies the SLICING itself against
    the oracle, not just the bookkeeping.

    Plan: pure Catalyst — split, ``posexplode(sequence(...))``, slice,
    array_join, md5, all inside one whole-stage-codegen span; zero
    shuffles, zero Python at any corpus size (the classic map-only
    expansion: output rows ≈ input tokens / stride).
    """
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        raise ValueError(
            f"stride={stride} > size={size} would skip tokens between "
            "chunks — the every-token-covered contract requires "
            "stride <= size")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    n_chunks = (F.lit(1)
                + F.floor((F.greatest(F.lit(0), n - F.lit(size))
                           + F.lit(stride - 1)) / F.lit(stride))
                .cast("int"))
    base = df.select(F.col(id_col).alias("doc_id"),
                     toks.alias("__toks"), n_chunks.alias("__nc"))
    exp = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("__nc") - 1)).alias(
            "chunk_id"),
        F.col("__toks"))
    chunk = F.slice(F.col("__toks"), F.col("chunk_id") * stride + 1, size)
    return exp.select(
        "doc_id", "chunk_id",
        (F.col("chunk_id") * stride).alias("start_tok"),
        F.size(chunk).alias("n_tok"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"))


def bigram_surprise(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id",
                    scale: int = 1_000_000) -> DataFrame:
    """Statistical-LM quality score (the CCNet / Wenzek et al. 2020
    perplexity-filter shape, with the LM trained on the corpus
    itself): score every document by how surprising its bigrams are
    under the corpus bigram model.

    INTEGER-EXACT scoring: per bigram occurrence,
    ``surprise = (count(prefix) * scale) div count(bigram)`` — the
    scaled reciprocal of the conditional probability
    P(w2|w1) = c(w1 w2)/c(w1·), order-isomorphic to -log P per
    occurrence, so document ranking by mean surprise matches ranking
    by cross-entropy term-by-term while the sums (and the cross-engine
    hash) involve no floating point.  Output: (doc_id, n_bigrams,
    surprise_sum, score) with ``score = surprise_sum div n_bigrams``;
    high score = unusual word continuations (noise, boilerplate,
    wrong-language spans), the rows a perplexity filter drops.

    Plan shape at 100 TB: the corpus collapses once to (prefix,
    bigram, count) — one shuffle with map-side combine; prefix totals
    are a window over that vocabulary-sized table partitioned by
    prefix (no second corpus pass); occurrences re-join the model on
    the bigram key (vocabulary-sized dim — AQE picks broadcast vs
    shuffle-hash); the per-doc sum is one final map-side-combined
    shuffle on doc_id.  The corpus TEXT is read and exploded exactly
    once per side (model + scoring) and never self-joined.
    Documents with fewer than two tokens have no bigrams and are
    absent from the output (nothing to score).

    ``scale * max(count(prefix))`` must stay inside int64: the default
    scale=1e6 is safe while no single prefix token exceeds ~9e12
    corpus occurrences; drop scale for corpora beyond that.
    """
    toks = tokens(F.col(text_col))
    # the >=2-token guard matters: Spark's sequence(1, n-1) DESCENDS
    # when n-1 < 1 (sequence(1,0) = [1,0]), which would fabricate
    # bigrams on one-token docs instead of skipping them
    base = (df.select(F.col(id_col).alias("doc_id"), toks.alias("__t"))
            .where(F.size("__t") >= 2))
    # one row per bigram occurrence: (doc, prefix, bigram)
    occ = base.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(1, size(__t) - 1), "
            "i -> struct(element_at(__t, i) AS pfx, "
            "concat(element_at(__t, i), ' ', element_at(__t, i + 1)) "
            "AS bg))")).alias("o")
    ).select("doc_id", "o.pfx", "o.bg")
    counts = occ.groupBy("pfx", "bg").agg(F.count(F.lit(1)).alias("c_bg"))
    w_pfx = Window.partitionBy("pfx")
    model = counts.select(
        "bg", "c_bg", F.sum("c_bg").over(w_pfx).alias("c_pfx"))
    scored = occ.join(model, "bg").select(
        "doc_id",
        F.expr(f"CAST({int(scale)} AS BIGINT) * c_pfx div c_bg")
        .alias("surprise"))
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.sum("surprise").alias("surprise_sum"))
            .select("doc_id", "n_bigrams", "surprise_sum",
                    F.expr("surprise_sum div n_bigrams").alias("score")))
