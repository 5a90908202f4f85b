"""Document deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (it dedups identical tile objects,
/root/reference/src/tile_data.cpp:488); these generalize the same idea to
text corpora at 100 TB scale:

* exact dedup — md5 groupBy (one shuffle on the hash key);
* MinHash + LSH — shingle -> minhash signature -> banded bucket join,
  entirely in Catalyst higher-order functions (zero Python);
* SimHash — 64-bit sign-aggregated word hashes (Arrow-vectorized numpy);
* n-gram Jaccard verify — exact set similarity on candidate pairs.

Scale notes: every candidate-generation path blocks on a compact key
(hash, band bucket) so the shuffle is O(rows), never O(rows^2); the
pairwise verify runs only within buckets.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(col):
    """lower + collapse whitespace (mirrored in oracle SQL)."""
    return F.regexp_replace(F.lower(col), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id representative per normalized-text md5.

    Output: (doc_id, content_hash, n_dupes)."""
    h = F.md5(normalize_text(F.col(text_col))).alias("content_hash")
    return (
        df.select(F.col(id_col).alias("doc_id"), h)
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_dupes"))
        .select("doc_id", "content_hash", "n_dupes")
    )


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n_hashes: int = 32,
                       k: int = 5) -> DataFrame:
    """MinHash signatures, one vectorized Arrow pass: shingle bytes ->
    uint64 polynomial rolling hash (numpy sliding windows, batch-wide),
    then n multiply-shift permutations h_j(x) = mix(a_j*x + b_j) with the
    min taken per doc — a single ``mapInArrow`` with no shuffle at all.
    Output: (doc_id, sh array<long> distinct 64-bit-hashed shingles,
    h0..h{n-1}).

    Why Arrow and not Catalyst here: the per-shingle x per-hash-function
    work (n_hashes * ~hundreds of shingles per doc) is interpreted
    per-element when written as higher-order-function transforms, and an
    explode + 33-aggregate groupBy pays an ObjectHashAggregate (forced by
    collect_set).  A numpy uint64 matrix op does the same arithmetic at
    memory bandwidth.  Shingles travel as 8-byte ints, not k-char
    strings: the exact-Jaccard verify downstream only needs set identity
    (collision odds at 64 bits are negligible for any real corpus).

    The input is repartitioned first: document tables often arrive as one
    small parquet file (1 input split), which would run the whole scan on
    a single core."""
    import re as _re

    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in df.schema.fields
    )[id_col]
    schema = (f"doc_id {id_type}, sh array<long>, "
              + ", ".join(f"h{j} long" for j in range(n_hashes)))

    # splitmix64 finalizer constants + per-function odd multipliers/offsets
    # (multiply-shift: odd a_j makes x -> a_j*x + b_j a permutation of
    # Z_2^64, so min over it is a valid minhash)
    rng = np.random.RandomState(0x5EED)
    a_j = (rng.randint(0, 2**63, n_hashes, np.uint64) * 2 + 1).astype(
        np.uint64)
    b_j = rng.randint(0, 2**63, n_hashes, np.uint64).astype(np.uint64)
    # rolling-hash powers mod 2^64 computed in Python ints (numpy scalar
    # multiply would raise RuntimeWarning on intentional wraparound)
    pows = np.array(
        [pow(1099511628211, i, 1 << 64) for i in range(k)],  # FNV prime
        np.uint64)

    def _mix(x: np.ndarray) -> np.ndarray:
        # splitmix64 finalizer, vectorized (public domain algorithm)
        x = x + np.uint64(0x9E3779B97F4A7C15)
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return x ^ (x >> np.uint64(31))

    ws = _re.compile(r"\s+")

    # Two batch kernels producing IDENTICAL output (equivalence locked by
    # tests/test_dedup_text.py::test_minhash_signature_matches_per_doc_
    # formula), chosen adaptively per Arrow batch:
    #
    # * _sigs_flat — vectorized ACROSS documents: all docs' bytes in one
    #   flat uint8 array, the rolling hash as k shifted multiply-adds,
    #   per-doc unique via one lexsort, minhash via chunked
    #   minimum.reduceat.  Wins when docs are SHORT (caption-scale) and
    #   the per-row Python overhead dominates: measured 2.5x at 23
    #   avg chars, 1.6x at 56, crossover ~64.
    # * _sigs_perdoc — loop over docs, numpy inside: each doc's
    #   (n_hashes x n_shingles) work stays L2-resident.  Wins for long
    #   docs, where the flat path's global lexsort + permutation gathers
    #   are cache-hostile (measured 0.3x at 700+ chars — the sort, not
    #   the arithmetic, is the cost).
    _FLAT_MAX_AVG_BYTES = 64

    def _sigs_perdoc(texts):
        n = len(texts)
        hmat = np.empty((n, n_hashes), np.uint64)
        sh_out = []
        for i, b in enumerate(texts):
            bb = np.frombuffer(b, np.uint8)
            win = np.lib.stride_tricks.sliding_window_view(bb, k)
            s64 = np.unique(
                _mix((win.astype(np.uint64) * pows).sum(axis=1)))
            sh_out.append(s64.astype(np.int64))
            hmat[i] = _mix(
                a_j[:, None] * s64[None, :] + b_j[:, None]).min(axis=1)
        return sh_out, hmat

    def _sigs_flat(texts):
        n = len(texts)
        lens = np.fromiter(map(len, texts), np.int64, n)
        flat = np.frombuffer(b"".join(texts), np.uint8)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        nwin = lens - (k - 1)            # valid windows per doc
        total = len(flat) - (k - 1)
        fu = flat.astype(np.uint64)
        hv = np.zeros(total, np.uint64)
        for j in range(k):               # k=5 passes, each vectorized
            hv += fu[j:j + total] * pows[j]
        allh = _mix(hv)
        # window -> owning doc, dropping windows that straddle docs
        cw = np.concatenate(([0], np.cumsum(nwin)[:-1]))
        within = np.arange(int(nwin.sum())) - np.repeat(cw, nwin)
        h = allh[np.repeat(starts, nwin) + within]
        docv = np.repeat(np.arange(n), nwin)
        # per-doc unique: sort by (doc, hash), keep firsts
        order = np.lexsort((h, docv))
        dh, hh = docv[order], h[order]
        keep = np.ones(len(hh), bool)
        keep[1:] = (dh[1:] != dh[:-1]) | (hh[1:] != hh[:-1])
        dh, hh = dh[keep], hh[keep]
        counts = np.bincount(dh, minlength=n)
        bounds = np.concatenate(([0], np.cumsum(counts)))
        sh_i64 = hh.astype(np.int64)
        sh_out = [sh_i64[bounds[i]:bounds[i + 1]] for i in range(n)]
        # per-doc segment mins over cache-resident shingle chunks: a
        # full (n_hashes, n_unique) mix matrix would be GBs of
        # temporaries at Arrow batch sizes; an 8k chunk keeps all 32
        # rows (~2 MB) in L2.  Chunk-straddling docs merge via
        # np.minimum on the overlapping doc rows.  (Every doc has >=1
        # shingle thanks to the padding, so segments are never empty.)
        hmat = np.full((n, n_hashes), np.iinfo(np.uint64).max, np.uint64)
        m = len(hh)
        chunk = 8192
        for s in range(0, m, chunk):
            e = min(s + chunk, m)
            i0 = int(np.searchsorted(bounds, s, "right")) - 1
            i1 = int(np.searchsorted(bounds, e, "left"))
            b_c = np.clip(bounds[i0:i1], s, e) - s
            mixed = _mix(a_j[:, None] * hh[None, s:e] + b_j[:, None])
            part = np.minimum.reduceat(mixed, b_c, axis=1).T
            np.minimum(hmat[i0:i1], part, out=hmat[i0:i1])
        return sh_out, hmat

    def run(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids, col = batch.columns
            texts = [ws.sub(" ", str(t).lower()).encode("utf-8")
                     for t in col.to_pylist()]
            # pad short docs to k bytes with spaces
            texts = [t if len(t) >= k else t + b" " * (k - len(t))
                     for t in texts]
            nbytes = sum(map(len, texts))
            if nbytes <= n * _FLAT_MAX_AVG_BYTES:
                sh_out, hmat = _sigs_flat(texts)
            else:
                sh_out, hmat = _sigs_perdoc(texts)
            hs = np.ascontiguousarray(hmat.T).view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(sh_out, pa.list_(pa.int64())),
                 *map(pa.array, hs)],
                names=["doc_id", "sh", *(f"h{j}" for j in range(n_hashes))])

    parallelism = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(parallelism, F.col(id_col))
        .select(F.col(id_col), F.col(text_col))
        .mapInArrow(run, schema)
    )


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n_hashes: int = 32,
                      bands: int = 8, k: int = 5,
                      jaccard_threshold: float = 0.5,
                      max_bucket_size: int = 256) -> DataFrame:
    """Near-duplicate pairs via MinHash banding, then exact shingle-Jaccard
    verification.  Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    Plan shape: signature (explode+groupBy, linear) -> explode bands
    (x n_bands) -> groupBy (band, bucket) + in-bucket combination explode
    -> distinct -> signature-estimate prefilter -> exact verify against
    collected (int64-hashed) shingle sets.

    Scale guards (standard LSH practice):
    * buckets larger than ``max_bucket_size`` are DROPPED — a degenerate
      bucket (boilerplate/template corpus) would otherwise go O(b^2).
      A true near-dup pair collides in ~``bands * j^r`` bands, so losing
      one mega-bucket rarely loses the pair; recall stays ~1 for any
      corpus whose dup clusters are below the cap.
    * pair generation happens inside the bucket group (collect_list +
      combination explode), so the shuffle is one groupBy on a compact
      (band, bucket) key — no self-join, no skewed join key.
    """
    rows_per_band = n_hashes // bands
    # the signature subtree feeds banding and both verify joins — persist
    # it once instead of recomputing
    sig = minhash_signatures(df, text_col, id_col, n_hashes, k).persist()
    banded = sig.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.xxhash64(*[
                        F.col(f"h{j}")
                        for j in range(b * rows_per_band,
                                       (b + 1) * rows_per_band)
                    ]).alias("bucket"),
                )
                for b in range(bands)
            ])
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))

    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket_size))
    )
    # combination explode: ids x ids, keep a < b (<= cap^2 structs/bucket)
    pair_struct = F.filter(
        F.flatten(F.transform(
            "ids",
            lambda a: F.transform(F.col("ids"),
                                  lambda b: F.struct(a.alias("doc_a"),
                                                     b.alias("doc_b"))))),
        lambda p: p["doc_a"] < p["doc_b"],
    )
    cand = (
        buckets.select(F.explode(pair_struct).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    # cheap pre-filter: estimated jaccard from signature agreement (32
    # longs per side) before shipping the shingle arrays; the estimate
    # has std ~ sqrt(j(1-j)/n), so a generous margin keeps recall 1 in
    # practice while pruning the dense false-candidate tail
    hs = [f"h{j}" for j in range(n_hashes)]
    sigv = sig.select("doc_id", F.array(*hs).alias("hv"))
    est = F.aggregate(
        F.zip_with("hv_a", "hv_b",
                   lambda a, b: F.when(a == b, 1).otherwise(0)),
        F.lit(0), lambda acc, x: acc + x,
    ).cast("double") / F.lit(float(n_hashes))
    est_min = max(0.0, jaccard_threshold - 0.25)
    pre = (
        cand.join(sigv.withColumnsRenamed({"doc_id": "doc_a", "hv": "hv_a"}),
                  "doc_a")
        .join(sigv.withColumnsRenamed({"doc_id": "doc_b", "hv": "hv_b"}),
              "doc_b")
        .filter(est >= F.lit(est_min))
        .select("doc_a", "doc_b")
    )
    sh = sig.select("doc_id", "sh")
    verified = (
        pre.join(sh.withColumnsRenamed({"doc_id": "doc_a", "sh": "sh_a"}),
                 "doc_a")
        .join(sh.withColumnsRenamed({"doc_id": "doc_b", "sh": "sh_b"}),
              "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", block_col: str | None = None,
                        threshold: float = 0.5) -> DataFrame:
    """Exact word-set Jaccard pairs within a blocking key (default: all).

    O(block^2) — use minhash_lsh_pairs when blocks are large; this is the
    exact baseline and the oracle-checkable variant.
    Output: (doc_a, doc_b, jaccard)."""
    words = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(parallelism, F.col(id_col)).select(
        F.col(id_col).alias("doc_id"),
        words.alias("words"),
        (F.col(block_col) if block_col else F.lit(1)).alias("block"),
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(b, (F.col("a.block") == F.col("b.block"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .withColumn(
            "jaccard",
            F.size(F.array_intersect(F.col("a.words"), F.col("b.words")))
            .cast("double")
            / F.size(F.array_union(F.col("a.words"), F.col("b.words"))),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"), "jaccard")
    )


def jaccard_join_prefix(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id",
                        block_col: str | None = None,
                        threshold: float = 0.5) -> DataFrame:
    """Exact word-set Jaccard join via prefix filtering — IDENTICAL
    output to :func:`ngram_jaccard_pairs`, scalable candidate
    generation.

    The O(block^2) baseline compares every pair; at web scale that is
    the wrong algorithm.  Prefix filtering (Chaudhuri et al. ICDE'06
    SSJoin / Bayardo et al. WWW'07 all-pairs / PPJoin) makes the join
    exact AND sub-quadratic: order every document's tokens by global
    rarity (ascending document frequency), keep only each document's
    first ``|x| - ceil(t*|x|) + 1`` tokens (the *prefix*), and equi-join
    on prefix tokens — two sets with Jaccard >= t MUST share a prefix
    token under any fixed global order, so no true pair is lost.
    Candidates then pass a lossless size-ratio filter
    (``t*max(|x|,|y|) <= min(|x|,|y|)``) before the exact
    intersection/union verify.

    Scale shape: candidate generation shuffles on the prefix *token*
    key — and prefix tokens are by construction the RAREST tokens, so
    the equi-join buckets are naturally small where a naive token join
    would collapse on stopwords.  Equality with the baseline is
    property-tested (tests/test_dedup_text.py) and both share the same
    DuckDB oracle."""
    words = F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
    # base/pref each feed BOTH sides of a self-join below; without lineage
    # truncation Spark recomputes the tokenize->freq->window subtree per
    # alias (ReusedExchange does not fire across self-join aliases).  Lazy
    # localCheckpoint = compute once at first use, executor-local storage
    # (both stages are linear in the input; on a cluster with preemptible
    # executors swap for checkpoint() — same note as operators/components).
    base = df.select(
        F.col(id_col).alias("doc_id"), words.alias("words"),
        (F.col(block_col) if block_col else F.lit(1)).alias("block"),
    ).localCheckpoint(eager=False)
    tok = base.select(
        "doc_id", "block", F.size("words").alias("n"),
        F.explode("words").alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    ranked = tok.join(freq, "w").withColumn(
        "pos", F.row_number().over(
            Window.partitionBy("doc_id").orderBy("cnt", "w")))
    # prefix length |x| - ceil(t*|x|) + 1 (textbook Jaccard prefix)
    pref = ranked.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.col("n") * F.lit(threshold))
        + F.lit(1)).select("doc_id", "block", "n", "w") \
        .localCheckpoint(eager=False)
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.w") == F.col("b.w"))
               & (F.col("a.block") == F.col("b.block"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # lossless size-ratio prune: J >= t forces
               # min(|x|,|y|) >= t * max(|x|,|y|)
               & (F.least("a.n", "b.n").cast("double")
                  >= F.lit(threshold) * F.greatest("a.n", "b.n")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    wa = base.select(F.col("doc_id").alias("doc_a"),
                     F.col("words").alias("_wa"))
    wb = base.select(F.col("doc_id").alias("doc_b"),
                     F.col("words").alias("_wb"))
    return (
        cand.join(wa, "doc_a").join(wb, "doc_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("_wa", "_wb")).cast("double")
            / F.size(F.array_union("_wa", "_wb")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def simhash(df: DataFrame, text_col: str = "text",
            id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per doc: sign-sum of word-hash bits, vectorized in a
    scalar Arrow UDF (numpy bit unpacking — one call per batch).
    Output: (doc_id, simhash long)."""

    @F.arrow_udf("long")
    def sh(texts):
        # Vectorized across documents: every doc's unique words are
        # hashed in one flat FNV-1a sweep (loop over CHAR POSITIONS, not
        # words — each step a masked vectorized xor-multiply), bits are
        # unpacked batch-wide, and per-doc votes come from one
        # add.reduceat over doc word boundaries.
        n = len(texts)
        out = np.zeros(n, np.int64)
        if n == 0:
            return pa.array(out)
        per_doc = [sorted(set(str(t).lower().split()))
                   for t in texts.to_pylist()]
        nw = np.fromiter(map(len, per_doc), np.int64, n)
        words = [w.encode("utf-8") for ws_ in per_doc for w in ws_]
        if not words:
            return pa.array(out)
        wlen = np.fromiter(map(len, words), np.int64, len(words))
        flat = np.frombuffer(b"".join(words), np.uint8)
        wstart = np.concatenate(([0], np.cumsum(wlen)[:-1]))
        h = np.full(len(words), 0xCBF29CE484222325, np.uint64)
        prime = np.uint64(0x100000001B3)
        for pos in range(int(wlen.max())):
            active = wlen > pos
            c = flat[wstart[active] + pos].astype(np.uint64)
            h[active] = (h[active] ^ c) * prime
        # per-bit vote counting keeps temporaries at n_words elements
        # (the (n_words, 64) unpack would be 100s of MB per batch):
        # votes[d,b] = 2*set_count(d,b) - nw[d], bit set iff votes > 0
        nz = nw > 0
        bounds = np.concatenate(([0], np.cumsum(nw)))[:-1][nz]
        nw_nz = nw[nz]
        vals = np.zeros(int(nz.sum()), np.uint64)
        for b in range(64):
            setb = ((h >> np.uint64(b)) & np.uint64(1)).astype(np.int64)
            cnt = np.add.reduceat(setb, bounds)
            vals |= ((2 * cnt > nw_nz).astype(np.uint64)
                     << np.uint64(b))
        out[nz] = vals.astype(np.int64)
        return pa.array(out)

    return df.select(F.col(id_col).alias("doc_id"),
                     sh(F.col(text_col)).alias("simhash"))


def hash_word(w: str) -> int:
    """Deterministic 64-bit FNV-1a (stable across workers, unlike hash())."""
    h = 0xCBF29CE484222325
    for ch in w.encode("utf-8"):
        h ^= ch
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def simhash_near_dups(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id",
                      max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on exact bit
    chunks.  Pigeonhole: splitting 64 bits into (max_hamming + 1) chunks
    guarantees two signatures within max_hamming share at least one exact
    chunk — blocking is lossless for the given threshold.
    Output: (doc_a, doc_b, hamming)."""
    sh = simhash(df, text_col, id_col)
    n_chunks = min(16, max_hamming + 1)
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    chunks = sh.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftrightunsigned("simhash", bits * c)
                .bitwiseAND(F.lit(mask)).alias("key"),
            ) for c in range(n_chunks)
        ])).alias("ck"),
    ).select("doc_id", "simhash", F.col("ck.chunk").alias("chunk"),
             F.col("ck.key").alias("key"))
    a, b = chunks.alias("a"), chunks.alias("b")
    xor = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ham = F.bit_count(xor)
    return (
        a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"), ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def edit_distance_join(df: DataFrame, id_col: str, text_col: str,
                       max_dist: int = 2) -> DataFrame:
    """Fuzzy self-join: every pair of rows whose strings are within
    ``max_dist`` Levenshtein edits — the record-linkage primitive
    (misspelled names, OCR noise, vocabulary near-misses).

    Blocking is LOSSLESS: an edit changes the length by at most one,
    so |len(a) - len(b)| <= d is necessary; one side explodes to its
    d+1 upward length buckets and the equi-join on (bucket) finds every
    candidate exactly once (the pair id_a < id_b with len_a <= len_b
    meets in bucket len_b).  Verification is Spark's built-in JVM
    ``levenshtein`` — zero Python anywhere.  At corpus scale add a
    first-q-gram refinement inside the bucket before verifying; the
    length band alone already reduces O(n^2) to O(sum of band sizes).

    Returns (id_a, id_b, text_a, text_b, dist), id_a < id_b.
    """
    if not 1 <= max_dist <= 8:
        raise ValueError(f"max_dist={max_dist} out of range [1, 8]")
    left = df.select(F.col(id_col).alias("id_a"),
                     F.col(text_col).alias("text_a"),
                     F.length(text_col).alias("len_a"))
    right = df.select(F.col(id_col).alias("id_b"),
                      F.col(text_col).alias("text_b"),
                      F.length(text_col).alias("len_b"))
    bucketed = left.withColumn(
        "bucket", F.explode(F.sequence(
            F.col("len_a"), F.col("len_a") + max_dist)))
    cands = bucketed.join(right, F.col("bucket") == F.col("len_b"))
    # each unordered pair meets exactly once: in the bucket of the
    # LONGER string, with the shorter (or id-smaller on equal length)
    # row on the exploded side
    cands = cands.where(
        (F.col("len_a") < F.col("len_b"))
        | ((F.col("len_a") == F.col("len_b"))
           & (F.col("id_a") < F.col("id_b"))))
    dist = F.levenshtein("text_a", "text_b")
    out = (cands.withColumn("dist", dist)
           .where(F.col("dist") <= max_dist))
    a_first = F.col("id_a") < F.col("id_b")
    return out.select(
        F.when(a_first, F.col("id_a")).otherwise(F.col("id_b"))
        .alias("id_a"),
        F.when(a_first, F.col("id_b")).otherwise(F.col("id_a"))
        .alias("id_b"),
        F.when(a_first, F.col("text_a")).otherwise(F.col("text_b"))
        .alias("text_a"),
        F.when(a_first, F.col("text_b")).otherwise(F.col("text_a"))
        .alias("text_b"),
        F.col("dist").cast("int").alias("dist"))
