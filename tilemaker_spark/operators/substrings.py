"""Exact cross-document substring duplication (training-data pipeline).

The substring-level complement of the document-level dedup family
(operators/dedup.py): web corpora repeat long verbatim spans (boilerplate,
licences, quoted articles) inside otherwise-distinct documents, and
removing them measurably improves language models (Lee et al., "Deduplicating
Training Data Makes Language Models Better", ACL 2022).  The suffix-array
approach of that paper is single-machine; the distributed equivalent is a
fingerprint join over fixed-length character grams with winnowing-style
sampling (Schleimer, Wilkerson, Aiken, "Winnowing: Local Algorithms for
Document Fingerprinting", SIGMOD 2003):

1. every document emits its length-L character grams (pure Catalyst:
   ``explode(sequence(...))`` + ``substring`` — zero Python),
2. a deterministic hash sample keeps ~1/16th of positions (md5 first hex
   digit — identical on Spark and DuckDB, so the twin oracle regenerates
   the exact same sample),
3. grams are grouped on a compact 16-hex-char key; singleton grams are
   discarded map-side-combinably, mega-grams (boilerplate shared by more
   than ``max_gram_freq`` positions) are dropped with observability —
   the same cap-and-count guard as the LSH buckets in dedup.py,
4. duplicate pairs are expanded INSIDE the group (combination explode on
   the collected occurrence list — no self-join, no skewed join key; two
   shuffles end-to-end: the gram groupBy plus the per-pair re-aggregate).

A length-L sampled-gram match is exact evidence of an L-char verbatim
duplicate span; the per-pair match count scales with the duplicated
length (expected matches ~= dup_chars * sample_rate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# md5 first-hex-digit sample: keep a gram iff md5(gram)[0] in this set.
# '0' alone = 1/16th of positions; both engines compute identical md5 hex.
DEFAULT_SAMPLE_HEX = ("0",)


def substring_dup_pairs(
    df: DataFrame, length: int = 15,
    sample_hex: tuple[str, ...] = DEFAULT_SAMPLE_HEX,
    id_col: str = "doc_id", text_col: str = "text",
    max_gram_freq: int = 64,
) -> DataFrame:
    """Cross-document duplicate-span evidence: for every document pair
    sharing at least one sampled length-``length`` gram, the number of
    shared sampled gram occurrences.  Output: (doc_a, doc_b,
    n_shared_grams) with doc_a < doc_b.

    Plan shape (two shuffles, no self-join): explode positions ->
    hash-sample -> groupBy gram key with map-side-combinable occurrence
    collection -> in-group combination explode -> groupBy (doc_a, doc_b)
    re-aggregate.  Grams occurring more
    than ``max_gram_freq`` times are dropped (boilerplate mega-gram guard
    — pair expansion is O(freq^2)).
    """
    occ = df.filter(F.length(text_col) >= length).select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.explode(F.sequence(
            F.lit(1), F.length(text_col) - F.lit(length - 1))).alias("pos"),
    ).select(
        "doc_id", "pos",
        F.md5(F.expr(f"substring(_t, pos, {int(length)})")).alias("_h"),
    ).filter(
        F.substring("_h", 1, 1).isin(*sample_hex)
    ).select("doc_id", "pos", F.substring("_h", 1, 16).alias("gkey"))

    groups = (
        occ.groupBy("gkey")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "pos")))
             .alias("occs"))
        .filter((F.size("occs") >= 2)
                & (F.size("occs") <= max_gram_freq))
    )
    # all i<j occurrence pairs, expanded inside the group (no self-join)
    pairs = groups.select(F.explode(F.flatten(F.expr(
        "transform(occs, (x, i) -> "
        "  transform(slice(occs, i + 2, size(occs)), y -> struct(x, y)))"
    ))).alias("p")).select(
        F.col("p.x.doc_id").alias("doc_a"),
        F.col("p.y.doc_id").alias("doc_b"),
    ).filter(F.col("doc_a") != F.col("doc_b"))
    # occs is sorted by (doc_id, pos), so doc_a < doc_b already holds
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_shared_grams")))


def substring_dup_pairs_oracle_sql(
    table: str = "documents", length: int = 15,
    sample_hex: tuple[str, ...] = DEFAULT_SAMPLE_HEX,
    id_col: str = "doc_id", text_col: str = "text",
    max_gram_freq: int = 64,
) -> str:
    """DuckDB twin of :func:`substring_dup_pairs` — regenerates the exact
    same md5 position sample and cap, expressed as a plain self-join."""
    hexes = ", ".join(f"'{h}'" for h in sample_hex)
    return f"""
WITH pos AS (
  SELECT {id_col} AS doc_id, {text_col} AS t,
         unnest(generate_series(
             1, length({text_col}) - {int(length) - 1})) AS i
  FROM {table}
),
occ AS (
  SELECT doc_id, i AS pos,
         substr(md5(substr(t, i, {int(length)})), 1, 16) AS gkey
  FROM pos
  WHERE substr(md5(substr(t, i, {int(length)})), 1, 1) IN ({hexes})
),
capped AS (
  SELECT * FROM occ
  QUALIFY count(*) OVER (PARTITION BY gkey)
          BETWEEN 2 AND {int(max_gram_freq)}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       count(*) AS n_shared_grams
FROM capped a
JOIN capped b ON a.gkey = b.gkey AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""
