"""Physical-plan regression gate (VERDICT r3 ask #7).

Locks the 100 TB design invariants for the most expensive driver
queries as pytest assertions over the FORMATTED PHYSICAL PLAN —
shuffle budget, broadcast presence, zero row-at-a-time Python, and
declared-Arrow-node budget.  A future edit that silently adds a
shuffle, drops a broadcast, or introduces BatchEvalPython fails here
instead of only showing up as a bench regression.

Budgets are ceilings locked from the round-4 plans (tools/plan_audit.py
at sf0.001); loosen deliberately (with a comment) if a plan change is
intentional.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_audit import audit_plan  # noqa: E402

# name -> (max exchanges, min broadcasts, max python nodes)
BUDGETS = {
    "way_assembly": (4, 4, 0),
    "minhash_pairs": (3, 8, 1),
    "cover_large": (3, 0, 2),
    "area_intersect": (3, 6, 3),
    "pip_line": (3, 6, 3),
    "covered_by": (3, 6, 3),
    "rel_members": (4, 4, 0),
    "knn": (1, 2, 0),
    # radius_join: AQE broadcasts both tiny sf0.001 sides; the single
    # exchange is the (query,cand) dedup shuffle. Zero Python always.
    "radius_join": (1, 2, 0),
    "tile_assign": (1, 0, 0),
    # quadkey/geohash: distinct-agg + rollup = 2 exchanges, pure codegen
    "quadkey": (2, 0, 0),
    "geohash": (2, 0, 0),
    "ngram_jaccard": (2, 2, 0),
    "pip_broadcast": (0, 2, 1),
    # zonal_stats: the broadcast PIP join + ONE map-side-combined
    # rollup shuffle on the zone id
    "zonal_stats": (1, 2, 1),
    # tile_budget: tile-count shuffle + per-zoom rank window over the
    # counts table + |zooms|-row rollup; pure Catalyst tile math
    "tile_budget": (3, 0, 0),
    # clip_gate: pair-index equi-join (one side broadcast at test
    # scale); quantize + int dot pure Catalyst, zero Python
    "clip_gate": (2, 1, 0),
    # emb_dups: declared broadcast O(n²) exact baseline — the
    # broadcast is the point, zero shuffles, zero Python
    "emb_dups": (0, 1, 0),
    "pip_cell": (0, 2, 1),
    # raster_roundtrip: cover + coarse refine + per-tile render + trace
    # = 4 Arrow nodes; exchanges = cover's repartition + the tile group
    "raster_roundtrip": (2, 0, 4),
    "dedup_exact": (1, 0, 0),
    "zorder_topk": (1, 0, 0),
    "line_clip": (0, 0, 1),
    "poly_union": (2, 0, 1),
    # 2 Arrow nodes exactly: a regression to 3+ means the join's null
    # guard is re-evaluating an assign/sig UDF over the candidate set
    "ann_ivf": (2, 1, 2),
    # media queries are single linear synth -> encode -> mapInArrow
    # chains: zero shuffles, by construction
    "video_frames": (0, 0, 2),
    "audio_features": (0, 0, 2),
    # round-4 additions: prefix join = freq agg + window + token join +
    # pair distinct + verify (checkpointed subtrees hide their upstream
    # exchanges from the final plan but the candidate path still shows
    # the distinct + join shuffles); sessionize = ONE shuffle on the
    # user key shared by both window passes + the rollup; the sampling
    # queries are pure projection/filter (zero shuffles) with the tiny
    # count-aggregation broadcast for mixture
    "jaccard_prefix": (4, 0, 0),
    "sessionize": (2, 0, 0),
    "hash_split": (0, 0, 0),
    "bpe_tokens": (0, 0, 0),
    "mixture": (3, 2, 0),
    # round-4 text additions: repetition is a pure map-only projection;
    # bpe_pairs = corpus->vocab agg + pair agg (2 shuffles, both with
    # map-side partial agg); substring_dups = gram groupBy + pair re-agg
    # (2 shuffles, in-group pair expansion — no self-join)
    "repetition": (0, 0, 0),
    "bpe_pairs": (2, 0, 0),
    "substring_dups": (2, 0, 0),
    # asof_join: 1 exchange for the right-side (user,ts) pre-agg + the
    # ONE union-window shuffle on user_id the operator owns; zero UDF.
    # interval_join: AQE broadcasts both tiny sf0.001 sides of the
    # (cohort,bin) equi-join; the single exchange is the per-order agg.
    "asof_join": (2, 0, 0),
    "interval_join": (1, 2, 0),
    # boilerplate: line-freq agg + per-doc re-agg + countDistinct
    # expansion; the hot-line dictionary and doc-totals dim broadcast
    "boilerplate": (3, 2, 0),
    # caption verify is a pure map-only projection over the synthesized
    # metadata table (no bytes, no join) — zero everything
    "caption_check": (0, 0, 0),
    # round-5 flagship composition: exact-dedup agg + survivor
    # repartition + components distincts + canonical window = 6
    # exchanges; the exact-survivor dim is broadcast; the LSH Arrow
    # stages live behind the components checkpoint (ExistingRDD), so
    # the final DAG itself carries zero Python nodes
    "corpus_dedup": (6, 1, 0),
    # round-5 image-transform chains: gradient-encode Arrow UDF +
    # resize/augment mapInArrow + checksum mapInArrow = 3 Arrow
    # stages, map-only (zero shuffles) by construction
    "resize_check": (0, 0, 3),
    "augment_check": (0, 0, 3),
    "patchify_check": (0, 0, 3),
    "letterbox_check": (0, 0, 3),
    # orientation_check: gradient-encode UDF + orient mapInArrow +
    # checksum mapInArrow, map-only like the other transform chains
    "orientation_check": (0, 0, 3),
    "grayscale_check": (0, 0, 3),
    # round-5 training-corpus additions: channel_stats emits 3 rows per
    # image in Arrow (encode + stats = 2 nodes) and the map-side partial
    # aggregate shuffles only 3 rows per partition (1 exchange); mixup
    # joins the image table twice — both sides broadcast at test scale
    # (AQE would pick shuffle-hash at 100 TB), 4 Arrow nodes (2 encodes
    # + blend + checksum), zero shuffles; shard_roundtrip audits the
    # read side (the sink runs eagerly): repartition over shards +
    # untar + checksum = 1 exchange, 2 Arrow nodes
    "channel_stats": (1, 0, 2),
    "mixup_check": (0, 2, 4),
    "shard_roundtrip": (1, 0, 2),
    # round-5 text/retrieval additions: tfidf = tf agg + df agg + idf
    # join + per-doc top-k window (4 exchanges, term dim broadcast at
    # test scale); retrieval_eval = broadcast query side + corpus scan
    # + top-k window + label joins on the tiny top-k result (both
    # label lookups broadcast), zero Python nodes in either
    "tfidf_terms": (4, 0, 0),
    # scd2: lag pass, change filter, lead/row_number all share ONE
    # user_id exchange; pure JVM window code
    "scd2": (1, 0, 0),
    # chunk_docs: map-only split/posexplode/slice/md5 — zero shuffles
    "chunk_docs": (0, 0, 0),
    # lm_surprise: (pfx,bg) count agg + pfx window + per-doc sum = 3
    # exchanges; the vocabulary-sized model broadcasts at test scale
    "lm_surprise": (3, 0, 0),
    "retrieval_eval": (2, 3, 0),
    # decontam: benchmark gram set + overlap counts broadcast (>=2
    # BroadcastExchanges), corpus side = distinct + per-doc re-agg +
    # clean-doc preserving join = 3 exchanges, zero Python nodes;
    # stratified sampling is a pure scan-pushed projection/filter
    "decontam": (3, 2, 0),
    "stratified": (0, 0, 0),
    # pack_blocks: range window + tiny totals agg + tiny global window
    # = 3 exchanges; the range-offset dim broadcasts back
    "pack_blocks": (3, 1, 0),
    # domain_cap: ONE shuffle on the domain key (hash-ranked window)
    "domain_cap": (1, 0, 0),
    # cube_stats: map-side Expand + ONE grouping-sets shuffle
    "cube_stats": (1, 0, 0),
    # funnel: 3 per-stage user-key aggs + 2 user-key joins + 3 global
    # 1-row counts = 8 exchanges; every one is on the compact user key
    # or a 1-row rollup (the per-user table shrinks each stage, and at
    # 10^12 events it is NOT broadcastable, so shuffle join is the
    # honest 100 TB plan)
    "funnel": (8, 0, 0),
    # heat_grid: tile-count agg + 9x neighbor re-agg + center join
    "heat_grid": (3, 0, 0),
    # retention: signup min-ts agg + user-key join + two-phase
    # distinct-count on the (cohort, offset, user) key
    "retention": (5, 0, 0),
    # concurrency: sessionize window + session-interval agg + range
    # cumsum window + range totals + tiny global window + day rollup
    # = 8 exchanges, every one on a compact key or a tiny table;
    # offsets broadcast back
    "concurrency": (8, 1, 0),
    # corpus_shuffle: same distributed-prefix-sum shape as pack_blocks
    # (range window + tiny counts agg + tiny global window; offsets
    # broadcast back) — never a single global sort
    "corpus_shuffle": (3, 1, 0),
    # length_median: ONE shuffle on the group key shared by both
    # window passes and the rollup
    "length_median": (1, 0, 0),
    # kmv_distinct: ONE mapInArrow partial-sketch pass (the manual
    # map-side combine — <= k hashes per group leave each partition)
    # + ONE merge shuffle over the bounded partials
    "kmv_distinct": (1, 0, 1),
    # s2_cells: pure-Catalyst trig + Hilbert bit fold, ONE groupBy
    # shuffle on the compact cell key, zero UDF
    "s2_cells": (1, 0, 0),
    # adaptive_cells: ONE finest-level count shuffle over the data
    # (checkpointed), then one tiny rollup agg per level over the
    # counts table (z_max - z_coarse = 6) — 7 exchanges, every coarser
    # level broadcast back, zero Python
    "adaptive_cells": (7, 6, 0),
    # geo_corpus: fine-count shuffle (checkpointed) + 5 rollup aggs
    # over the counts table + ONE leaf-key rollup; the fine->leaf
    # mapping and every coarser level broadcast back (z_max-z_coarse=5)
    "geo_corpus": (7, 6, 0),
    # hot_ngrams: MG candidate pass (1 Arrow node) + candidate
    # distinct + bounded recount agg + 1-row total = 3 exchanges; the
    # candidate set and total broadcast back (>=2 of the 4 bcasts)
    "hot_ngrams": (3, 2, 1),
    # kmv_setops: one tagged partial-sketch Arrow pass + bounded merge
    # shuffle + the 1-row x 1-row cross join of the two sketch rows
    "kmv_setops": (2, 0, 1),
    # grouped_topk: local-top-k Arrow pass + ONE bounded window shuffle
    "grouped_topk": (1, 0, 1),
    # sel_quantiles: iterative selection runs its bounded histogram
    # aggs eagerly (256-row collects, declared); the returned frame is
    # the driver-assembled 3-row result — zero everything by design
    "sel_quantiles": (0, 0, 0),
    # bloom_prune: the filter build runs eagerly (bounded word-rollup
    # collect); the returned plan is scan+bit-math filter + the truth
    # verify join (dim broadcast) + 1-row agg — zero fact shuffles
    # beyond the final single-row aggregate
    "bloom_prune": (1, 1, 0),
    # cm_counts: counter-grid agg (bounded depth*width) + probe
    # distinct + 1 broadcast probe join + per-probe min agg
    "cm_counts": (3, 1, 0),
    # analyze: one column-parallel partial-sketch Arrow pass + ONE
    # bounded merge shuffle for ALL columns' stats together
    "analyze": (1, 0, 1),
    # fuzzy_join: word distinct + the length-bucket equi-join (both
    # tiny sides broadcast at test scale) — zero Python, JVM
    # levenshtein verify
    "fuzzy_join": (2, 1, 0),
    # weighted_sample: TakeOrderedAndProject — zero exchanges, zero UDF
    "weighted_sample": (0, 0, 0),
    # bpe_encode: pure-Catalyst replace-chain tokenizer apply —
    # map-only projection, zero everything
    "bpe_encode": (0, 0, 0),
    # pii_redact is map-only JVM regex inside one codegen span
    "pii_redact": (0, 0, 0),
    # round-5 image-corpus additions: ar_bucket is a pure-Catalyst
    # integer argmin (zero UDF, zero shuffles); corrupt_scan is the
    # standard encode + decode-classify chain (2 Arrow nodes, map-only);
    # image_canonical = pairs/components behind checkpoints + left join
    # + survivor window (5 exchanges, ZERO Python in the final DAG)
    "ar_bucket": (0, 0, 0),
    # hilbert: one per-tile groupBy shuffle; the curve fold itself is
    # a pure-Catalyst F.aggregate (zero UDF)
    "hilbert": (1, 0, 0),
    # salt_plan: ONE map-side-combinable count shuffle, zero Python
    "salt_plan": (1, 0, 0),
    # wkb_points: pack UDF + vectorized parse (2 Arrow nodes) + one
    # per-tile count shuffle
    "wkb_points": (1, 0, 2),
    # dirty_tiles: full-outer join on the id + distinct on the small
    # dirty set (AQE may broadcast a side at test scale), zero Python
    "dirty_tiles": (3, 0, 0),
    # wkb_pip: pack + parse Arrow nodes on the 25-polygon dim, the dim
    # broadcasts into the ray-cast join, zero shuffles
    "wkb_pip": (0, 1, 2),
    # filter_funnel: map-only gates + one tiny rollup shuffle
    "filter_funnel": (1, 0, 0),
    # pip_anti: broadcast left_anti nested loop, zero shuffles/Python
    "pip_anti": (0, 1, 0),
    "corrupt_scan": (0, 0, 2),
    # image_meta: header parse is pure Catalyst — the single Arrow
    # node is the synth encoder, not the operator
    "image_meta": (0, 0, 1),
    "image_canonical": (5, 0, 0),
    # multimodal_dups: phash chunk-pair distinct (2 exchanges) with
    # the caption equi-join + intersection broadcast at test scale;
    # zero Python nodes — all three pair sets pure Catalyst
    "multimodal_dups": (2, 2, 0),
    # sliding_users: window explode + two-phase distinct agg
    "sliding_users": (2, 0, 0),
    # geo_dedup: cell+chunk equi-join (one side broadcast at test
    # scale) + pair distinct; pure Catalyst
    "geo_dedup": (2, 1, 0),
    # upsert: key distinct + left_anti (delta broadcast at CDC scale)
    # + unionByName
    "upsert": (1, 1, 0),
}


@pytest.fixture(scope="module")
def audits(spark, sf_dir):
    import __spark_entry__ as E
    qs = E.queries()
    return {name: audit_plan(qs[name](spark, sf_dir))
            for name in BUDGETS}


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_plan_budget(audits, name):
    max_exch, min_bcast, max_python = BUDGETS[name]
    a = audits[name]
    assert a["exchanges"] <= max_exch, \
        f"{name}: {a['exchanges']} shuffles (budget {max_exch})"
    assert a["broadcasts"] >= min_bcast, \
        f"{name}: lost broadcast ({a['broadcasts']} < {min_bcast})"
    assert a["python"] <= max_python, \
        f"{name}: {a['python']} Python nodes (budget {max_python})"


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_no_row_at_a_time_python(audits, name):
    assert audits[name]["row_at_a_time_python"] == 0, \
        f"{name}: BatchEvalPython in plan (row-at-a-time Python UDF)"


@pytest.mark.parametrize("name", sorted(BUDGETS))
def test_scans_are_pruned(audits, name):
    """Every parquet scan reads <= 6 columns (column pruning reaches
    the scan; the input tables are 8-16 columns wide)."""
    for ncols in audits[name]["scan_cols"]:
        assert ncols <= 6, \
            f"{name}: scan reads {ncols} columns (pruning lost)"
