"""Embedding similarity + image-column operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tilemaker_spark.kernels import png
from tilemaker_spark.operators import images, similarity
from tilemaker_spark.sources import synth


def test_cosine_topk_matches_numpy(spark, sf_dir):
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(100).cache()
    rows = e.collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    ids = np.array([r["vec_id"] for r in rows])
    q = e.filter(F.col("vec_id") == rows[0]["vec_id"]).select(
        F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.cosine_topk_bruteforce(
        q, e.select(F.col("vec_id").alias("cand_id"), "embedding"), k=5)
    got = [r["cand_id"] for r in out.orderBy("rank").collect()]
    # numpy ground truth
    qv = mat[0]
    sims = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    order = sorted(range(len(ids)),
                   key=lambda i: (-sims[i], ids[i]))
    truth = [int(ids[i]) for i in order if ids[i] != rows[0]["vec_id"]][:5]
    assert got == truth


# ---------------- images ----------------

@pytest.fixture(scope="module")
def img_df(spark):
    return synth.images_df(spark, 60, with_bytes=True).cache()


def test_decode_verify_psnr_invariant(img_df):
    out = images.decode_verify(img_df, psnr_min=40.0).collect()
    assert len(out) == 60
    assert all(r["pix_ok"] for r in out)
    png_rows = [r for r in out if r["fmt"] == "png"]
    jpg_rows = [r for r in out if r["fmt"] == "jpeg"]
    assert png_rows and jpg_rows
    assert all(r["psnr_db"] == 99.0 for r in png_rows)   # lossless
    # real baseline-JFIF codec: lossy but >= the 40 dB invariant
    assert all(40.0 <= r["psnr_db"] < 99.0 for r in jpg_rows)


def test_caption_byte_identity(img_df, spark):
    # regenerating the table yields byte-identical captions per row
    again = synth.images_df(spark, 60, with_bytes=False)
    a = {r["image_id"]: r["caption"] for r in img_df.collect()}
    b = {r["image_id"]: r["caption"] for r in again.collect()}
    assert a == b


def test_resize_images_shape(img_df):
    resized = images.resize_images(img_df.limit(5), 8, 8).collect()
    for r in resized:
        px = png.decode_png(bytes(r["bytes"]))
        assert px.shape == (8, 8, 3)


def test_phash_near_dups_self(spark):
    # identical phash -> hamming 0 pair found via chunk blocking
    df = spark.createDataFrame(
        [("a", 12345), ("b", 12345), ("c", 99999999)],
        "image_id string, phash long")
    out = images.phash_near_dups(df, max_hamming=0).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {("a", "b")}


def test_jpeg_is_real_jfif(img_df):
    """The stub is retired: every jpeg row in the images table is a real
    baseline JFIF stream (SOI..EOI), decodable as such."""
    rows = [r for r in img_df.collect() if r["fmt"] == "jpeg"][:5]
    assert rows
    for r in rows:
        b = bytes(r["bytes"])
        assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
        img = png.decode_image(b, "jpeg")
        assert img.shape == (r["h"], r["w"], 3)


# ---------------- IVF-Flat ----------------


def test_ivf_centroids_deterministic(spark):
    rng = np.random.Generator(np.random.PCG64(33))
    rows = [(i, rng.standard_normal(16).tolist()) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1 = similarity.train_ivf_centroids(df, nlist=8, seed=5)
    c2 = similarity.train_ivf_centroids(df, nlist=8, seed=5)
    assert np.array_equal(c1, c2)
    assert c1.shape == (8, 16)
    # unit-normalized (spherical k-means)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0, atol=1e-5)


def test_ivf_topk_recall_on_clustered(spark):
    """The LSH-adversarial distribution — a few dense clusters — is the
    IVF home turf: k-means lists adapt to the clusters, so probing the
    nearest lists recovers planted neighbors at high recall."""
    rng = np.random.Generator(np.random.PCG64(11))
    centers = rng.standard_normal((10, 16)) * 3.0
    cand_rows = []
    for i in range(400):
        v = centers[i % 10] + rng.standard_normal(16) * 0.3
        cand_rows.append((i, v.tolist()))
    q_rows = [(1000 + i,
               (np.array(cand_rows[i][1]) + rng.standard_normal(16) * 0.01
                ).tolist()) for i in range(60)]
    cands = spark.createDataFrame(
        cand_rows, "cand_id long, embedding array<double>")
    qs = spark.createDataFrame(
        q_rows, "query_id long, embedding array<double>")

    cent = similarity.train_ivf_centroids(
        cands.select(F.col("embedding")), nlist=16, seed=3)
    out = similarity.ann_ivf_topk(qs, cands, k=1, centroids=cent,
                                  n_probes=3)
    hit = {r["query_id"] for r in out.collect()
           if r["cand_id"] == r["query_id"] - 1000}
    assert len(hit) / 60 >= 0.9


def test_ivf_degenerate_list_cap(spark):
    """All-identical vectors put every candidate in one list; the
    optional max_list_size guard bounds the join the same way the LSH
    bucket cap does."""
    v = [1.0] * 16
    rows = [(i, v) for i in range(500)]
    cands = spark.createDataFrame(rows,
                                  "cand_id long, embedding array<double>")
    qs = spark.createDataFrame([(9000, v)],
                               "query_id long, embedding array<double>")
    cent = similarity.train_ivf_centroids(
        cands.select("embedding"), nlist=4, seed=1)
    capped = similarity.ann_ivf_topk(qs, cands, k=5, centroids=cent,
                                     n_probes=2, max_list_size=64)
    assert capped.count() == 0  # the mega-list was dropped, not joined
    uncapped = similarity.ann_ivf_topk(qs, cands, k=5, centroids=cent,
                                       n_probes=2)
    assert uncapped.count() == 5


# ---------------------------------------------------------------------------
# round-5: gradient images, augmentation, pixel checksums
# ---------------------------------------------------------------------------

def test_gradient_images_roundtrip_exact(spark):
    """gradient_images_df bytes decode to EXACTLY gradient_pixels
    (PNG is lossless), at every size the table produces."""
    rows = synth.gradient_images_df(spark, 20, partitions=2).collect()
    assert len(rows) == 20
    for r in rows:
        k = int(r["image_id"].rsplit("_", 1)[-1])
        got = png.decode_image(bytes(r["bytes"]), r["fmt"])
        ref = png.gradient_pixels(k, r["w"], r["h"])
        assert got.shape == (r["h"], r["w"], 3)
        assert np.array_equal(got, ref)


def test_augment_matches_numpy_transforms(spark):
    img = synth.gradient_images_df(spark, 6, partitions=1)
    out = {(r["image_id"], r["op"]): r
           for r in images.augment_images(img).collect()}
    assert len(out) == 18
    for k in range(6):
        iid = f"grad_{k:09d}"
        ref = png.gradient_pixels(k, 8 + (k % 5) * 4, 8 + ((k + 2) % 4) * 6)
        for op, want in (("flip_h", ref[:, ::-1]),
                         ("flip_v", ref[::-1]),
                         ("rot90", np.rot90(ref, k=-1))):
            r = out[(iid, op)]
            got = png.decode_image(bytes(r["bytes"]), "png")
            assert (r["h"], r["w"]) == want.shape[:2]
            assert np.array_equal(got, want), (iid, op)


def test_augment_involutions_kernel():
    """flip twice / rot90 four times = identity (the numpy ops the
    operator applies are true involutions/rotations)."""
    ref = png.gradient_pixels(7, 20, 14)
    assert np.array_equal(ref[:, ::-1][:, ::-1], ref)
    assert np.array_equal(ref[::-1][::-1], ref)
    r = ref
    for _ in range(4):
        r = np.rot90(r, k=-1)
    assert np.array_equal(r, ref)


def test_pixel_checksum_matches_numpy(spark):
    img = synth.gradient_images_df(spark, 8, partitions=2)
    got = {r["image_id"]: r["checksum"]
           for r in images.pixel_checksum(img).collect()}
    for k in range(8):
        ref = png.gradient_pixels(
            k, 8 + (k % 5) * 4, 8 + ((k + 2) % 4) * 6).astype(np.int64)
        wts = np.arange(ref.size, dtype=np.int64).reshape(ref.shape) + 1
        assert got[f"grad_{k:09d}"] == int((ref * wts).sum())


def test_resize_then_checksum_matches_numpy(spark):
    img = synth.gradient_images_df(spark, 8, partitions=2)
    resized = images.resize_images(img, out_w=12, out_h=10)
    got = {r["image_id"]: (r["w"], r["h"], r["checksum"])
           for r in images.pixel_checksum(resized).collect()}
    for k in range(8):
        w, h = 8 + (k % 5) * 4, 8 + ((k + 2) % 4) * 6
        ref = png.gradient_pixels(k, w, h)
        yi = np.minimum((np.arange(10) * h) // 10, h - 1)
        xi = np.minimum((np.arange(12) * w) // 12, w - 1)
        small = ref[yi][:, xi].astype(np.int64)
        wts = np.arange(small.size, dtype=np.int64).reshape(small.shape) + 1
        assert got[f"grad_{k:09d}"] == (12, 10, int((small * wts).sum()))


def test_patchify_matches_numpy(spark):
    img = synth.gradient_images_df(spark, 6, partitions=1)
    rows = images.patchify_images(img, patch=8).collect()
    by_key = {(r["image_id"], r["py"], r["px"]): r for r in rows}
    total = 0
    for k in range(6):
        w, h = 8 + (k % 5) * 4, 8 + ((k + 2) % 4) * 6
        ref = png.gradient_pixels(k, w, h)
        ny, nx = h // 8, w // 8
        total += ny * nx
        for gy in range(ny):
            for gx in range(nx):
                r = by_key[(f"grad_{k:09d}", gy, gx)]
                got = png.decode_image(bytes(r["bytes"]), "png")
                want = ref[gy * 8:(gy + 1) * 8, gx * 8:(gx + 1) * 8]
                assert np.array_equal(got, want), (k, gy, gx)
    assert len(rows) == total


def test_channel_stats_matches_numpy(spark):
    img = synth.gradient_images_df(spark, 12, partitions=3)
    got = {r["c"]: (r["n_px"], r["sum_v"], r["sum_sq"])
           for r in images.channel_stats(img).collect()}
    tot = np.zeros((3, 3), dtype=np.int64)
    for k in range(12):
        px = png.gradient_pixels(
            k, 8 + (k % 5) * 4, 8 + ((k + 2) % 4) * 6).astype(np.int64)
        tot[:, 0] += px.shape[0] * px.shape[1]
        tot[:, 1] += px.sum(axis=(0, 1))
        tot[:, 2] += (px * px).sum(axis=(0, 1))
    for c in range(3):
        assert got[c] == tuple(tot[c]), c


def test_mixup_matches_numpy(spark):
    img = synth.gradient_images_df(spark, 40, partitions=2)
    pairs = spark.range(20).select(
        F.format_string("grad_%09d", F.col("id")).alias("id_a"),
        F.format_string("grad_%09d", F.col("id") + 20).alias("id_b"))
    rows = images.mixup_images(img, pairs, lam_256=64).collect()
    assert len(rows) == 20
    for r in rows:
        k = int(r["id_a"].rsplit("_", 1)[-1])
        w, h = 8 + (k % 5) * 4, 8 + ((k + 2) % 4) * 6
        pa = png.gradient_pixels(k, w, h).astype(np.int64)
        pb = png.gradient_pixels(k + 20, w, h).astype(np.int64)
        want = ((64 * pa + 192 * pb + 128) >> 8).astype(np.uint8)
        got = png.decode_image(bytes(r["bytes"]), "png")
        assert (r["h"], r["w"]) == want.shape[:2]
        assert np.array_equal(got, want), k


def test_mixup_rejects_dim_mismatch(spark):
    img = synth.gradient_images_df(spark, 3, partitions=1)
    pairs = spark.createDataFrame(
        [("grad_000000000", "grad_000000001")], ["id_a", "id_b"])
    with pytest.raises(Exception, match="dims differ"):
        images.mixup_images(img, pairs).collect()


def test_label_recall_matches_numpy(spark, sf_dir):
    """label_recall_at_k vs a numpy brute-force reference on the real
    embeddings table: identical hit ranks (incl. nulls) per query."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r["query_id"]: (r["label"], r["hit_rank"])
           for r in similarity.label_recall_at_k(
               emb, k=5, n_queries=20).collect()}

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    labels = np.array([r["label"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    order = np.argsort(ids)
    ids, labels, mat = ids[order], labels[order], mat[order]
    assert len(got) == 20
    for qi in range(20):
        sims = mat @ mat[qi]
        cand = [(float(-sims[j]), int(ids[j])) for j in range(len(ids))
                if ids[j] != qi]
        cand.sort()
        hit = None
        for rank, (_, cid) in enumerate(cand[:5], start=1):
            if labels[cid] == labels[qi]:
                hit = rank
                break
        assert got[qi] == (int(labels[qi]), hit), qi


def test_to_grayscale_exact(spark):
    """BT.601 fixed-point luma is exact: a known RGB pixel maps to the
    hand-computed value, replicated into all 3 channels, and a gray
    input is a fixed point of the transform."""
    import numpy as np
    from tilemaker_spark.kernels import png as P
    from tilemaker_spark.operators import images as image_ops
    px = np.zeros((2, 3, 3), dtype=np.uint8)
    px[0, 0] = (255, 0, 0)      # -> (77*255+128)>>8 = 77
    px[0, 1] = (0, 255, 0)      # -> (150*255+128)>>8 = 149
    px[0, 2] = (0, 0, 255)      # -> (29*255+128)>>8 = 29
    px[1, 0] = (200, 200, 200)  # gray stays 200 (weights sum to 256)
    df = spark.createDataFrame(
        [("a", P.encode_png(px), 3, 2, "png")],
        "image_id string, bytes binary, w int, h int, fmt string")
    out = image_ops.to_grayscale(df).collect()[0]
    got = P.decode_image(bytes(out["bytes"]), "png")
    assert tuple(got[0, 0]) == (77, 77, 77)
    assert tuple(got[0, 1]) == (149, 149, 149)
    assert tuple(got[0, 2]) == (29, 29, 29)
    assert tuple(got[1, 0]) == (200, 200, 200)


def test_aspect_bucket_matches_python_argmin(spark):
    """The Catalyst integer argmin equals a float brute force over
    random (w, h) shapes (the integer cross-multiplication is an exact
    order embedding of |w/h - bw/bh|, so no tolerance is needed)."""
    import random
    rng = random.Random(42)
    shapes = [(rng.randint(8, 4096), rng.randint(8, 4096))
              for _ in range(300)] + [(16, 9), (9, 16), (100, 100),
                                      (4096, 8), (8, 4096)]
    df = spark.createDataFrame(shapes, "w int, h int")
    got = {(r["w"], r["h"]): r["bucket"]
           for r in images.assign_aspect_buckets(df).collect()}
    for w, h in shapes:
        best = min(
            range(len(images.AR_BUCKETS)),
            key=lambda i: (abs(w / h - images.AR_BUCKETS[i][0]
                               / images.AR_BUCKETS[i][1]), i))
        assert got[(w, h)] == best, (w, h)


def test_scan_corrupt_classifies(spark):
    """Planted corruption lands in the right class: intact decodes ok,
    zeroed magic -> bad_magic (PNG and JPEG), truncation -> corrupt."""
    from tilemaker_spark.kernels import jpeg as J
    px = png.gradient_pixels(3, 16, 12)
    good_png = png.encode_png(px)
    good_jpg = J.encode_jpeg(px)
    rows = [
        ("ok_png", good_png, "png"),
        ("ok_jpg", good_jpg, "jpeg"),
        ("magic_png", b"\x00" + good_png[1:], "png"),
        ("magic_jpg", b"\x00\x00" + good_jpg[2:], "jpeg"),
        ("trunc_png", good_png[: len(good_png) // 3], "png"),
        ("trunc_jpg", good_jpg[: len(good_jpg) // 3], "jpeg"),
        ("empty", b"", "png"),
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary,"
                                     " fmt string")
    got = {r["image_id"]: r["status"]
           for r in images.scan_corrupt(df).collect()}
    assert got == {
        "ok_png": "ok", "ok_jpg": "ok",
        "magic_png": "bad_magic", "magic_jpg": "bad_magic",
        "trunc_png": "corrupt", "trunc_jpg": "corrupt",
        "empty": "bad_magic",
    }


def test_filter_funnel_first_failing_gate(spark):
    """Rows failing several gates report only the FIRST (the funnel is
    a partition, so reason counts sum to the corpus size)."""
    rows = [
        ("a", 10, 10, "x" * 50),    # too_small (even though caption ok)
        ("b", 60, 30, "x" * 50),    # bad_aspect (w*2 > h*3)
        ("c", 30, 30, "tiny"),      # short_caption
        ("d", 30, 30, "x" * 50),    # ok
        ("e", 10, 60, "y"),         # too_small wins over aspect+caption
    ]
    df = spark.createDataFrame(rows, "image_id string, w int, h int,"
                                     " caption string")
    got = {r["reason"]: r["n"] for r in images.filter_funnel(
        df, min_side=20, ar_num=3, ar_den=2, min_caption=33).collect()}
    assert got == {"too_small": 2, "bad_aspect": 1,
                   "short_caption": 1, "ok": 1}


def test_image_meta_header_only_exact(spark):
    """Header-extracted (fmt, w, h) equal the encoder's inputs for
    both codecs; truncated blobs fall into the 'unknown' bucket with
    NULL dims; and the parse plan contains zero Python nodes."""
    from tilemaker_spark.sources import synth
    from pyspark.sql import functions as F
    img = synth.images_df(spark, 30, with_bytes=True, partitions=2)
    k = F.substring_index(F.col("image_id"), "_", -1).cast("long")
    planted = img.withColumn(
        "bytes", F.when(k % 11 == 7, F.expr("substring(bytes, 1, 4)"))
        .otherwise(F.col("bytes")))
    meta = images.image_meta(planted, passthrough=(
        "image_id", "fmt", "w", "h"))
    rows = meta.collect()
    assert len(rows) == 30
    for r in rows:
        kk = int(r["image_id"].split("_")[-1])
        if kk % 11 == 7:
            assert r["fmt_hdr"] == "unknown"
            assert r["w_hdr"] is None and r["h_hdr"] is None
        else:
            assert (r["fmt_hdr"], r["w_hdr"], r["h_hdr"]) == (
                r["fmt"], r["w"], r["h"])
    # the parse itself is pure Catalyst: planning image_meta over a
    # bytes column with no UDF upstream shows no Arrow/Python nodes
    plain = spark.createDataFrame(
        [("x", bytes(8))], "image_id string, bytes binary")
    plan = images.image_meta(plain)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_geo_phash_near_dups_fences_cells(spark):
    """Pairs phash-near but in different cells are excluded; same-cell
    near pairs survive with their hamming."""
    from pyspark.sql import functions as F
    rows = [
        # (id, phash, cell): a/b near + same cell -> pair
        (1, 0b1010, 10), (2, 0b1011, 10),
        # c near a but different cell -> fenced out
        (3, 0b1010, 20),
        # d same cell as a but hamming 5 -> filtered
        (4, 0b1010 ^ 0b11111000000, 10),
    ]
    df = spark.createDataFrame(
        rows, "image_id long, phash long, h3_coarse long")
    got = [(r["id_a"], r["id_b"], r["hamming"], r["cell"])
           for r in images.geo_phash_near_dups(df, max_hamming=4)
           .collect()]
    assert got == [(1, 2, 1, 10)]


def test_letterbox_centers_and_fills(spark):
    """Pad-to-square round-trips: the original pixels sit at the
    floor-centered window, everything else is the fill value, output
    is square with side max(w,h)."""
    from tilemaker_spark.sources import synth
    from tilemaker_spark.kernels import png as P
    img = synth.gradient_images_df(spark, 4, partitions=1)
    rows = images.letterbox_images(img, fill=114).collect()
    for r in rows:
        k = int(r["image_id"].split("_")[-1])
        px = P.decode_image(bytes(r["bytes"]), "png")
        side = px.shape[0]
        assert px.shape == (side, side, 3) and r["w"] == r["h"] == side
        orig = P.gradient_pixels(k, 8 + (k % 5) * 4, 8 + ((k + 2) % 4) * 6)
        h, w = orig.shape[:2]
        assert side == max(w, h)
        ox, oy = (side - w) // 2, (side - h) // 2
        assert (r["ox"], r["oy"]) == (ox, oy)
        assert (px[oy:oy + h, ox:ox + w] == orig).all()
        mask = np.ones((side, side), dtype=bool)
        mask[oy:oy + h, ox:ox + w] = False
        assert (px[mask] == 114).all()


def test_quantized_dot_and_gate_exact(spark):
    """quantized_dot equals the straight python int computation, and
    the gate's accept bit follows the threshold."""
    import math
    from tilemaker_spark.operators import similarity as sim
    rows = [(1, [0.5, -0.25, 0.1], [0.5, 0.25, -0.1]),
            (2, [1.0, 1.0, 1.0], [-1.0, -1.0, -1.0])]
    df = spark.createDataFrame(
        rows, "pair_id long, img_emb array<float>, txt_emb array<float>")
    got = {r["pair_id"]: (r["dot_q"], r["accept"]) for r in
           sim.crossmodal_gate(df, scale=64, threshold=0).collect()}
    def q(x):
        return math.floor(float(np.float32(x)) * 64 + 0.5)
    for pid, a, b in rows:
        dot = sum(q(x) * q(y) for x, y in zip(a, b))
        assert got[pid] == (dot, int(dot >= 0))


def test_embedding_near_dups_exact_matches_numpy(spark):
    """The quantized-dot pair set equals a sequential numpy
    computation bit for bit."""
    import math
    rng = np.random.default_rng(11)
    vecs = rng.normal(0, 0.3, (40, 8)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["dot_q"] for r in
           similarity.embedding_near_dups_exact(
               df, threshold=50).collect()}
    q = np.floor(vecs.astype(np.float64) * 64 + 0.5).astype(np.int64)
    expect = {}
    for i in range(40):
        for j in range(i + 1, 40):
            d = int(q[i] @ q[j])
            if d >= 50:
                expect[(i, j)] = d
    assert got == expect


def test_filter_funnel_null_fields_rejected(spark):
    from tilemaker_spark.operators import images as img_ops
    rows = [(100, 100, "a caption long enough to pass the gate ok"),
            (None, 100, "a caption long enough to pass the gate ok"),
            (100, None, "a caption long enough to pass the gate ok"),
            (100, 100, None)]
    df = spark.createDataFrame(rows, "w int, h int, caption string")
    got = {r["reason"]: r["n"] for r in
           img_ops.filter_funnel(df).collect()}
    # null fields must land in their own bucket, never fall through
    # every SQL-null gate into 'ok'
    assert got == {"ok": 1, "missing_fields": 3}
