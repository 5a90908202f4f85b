"""Multimodal (image) column operators.

Images are opaque ``binary`` columns with typed metadata (w, h, fmt) per
BASELINE.json input_hint.  Every decode runs in one Arrow-batched
``mapInArrow`` row worker (:func:`operators.rows.map_rows`) — schema,
partitioning and batch shape are real, and so are both codecs (no image
libraries in this container — see ``kernels.png`` for the PNG codec and
``kernels.jpeg`` for the from-scratch baseline JFIF codec; both
implemented from the public specs).

Operators: decode-verify (PSNR vs the deterministic reference pixels),
channel stats, resize (nearest-neighbor), and phash-based near-dup
candidate blocking.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import png as P
from .rows import map_rows


def _ddl(df: DataFrame, cols) -> str:
    """``", c type"`` for each of ``cols``, typed as in ``df``."""
    types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    return "".join(f", {c} {types[c]}" for c in cols)


def reference_psnr(seed: int, w: int, h: int, px: np.ndarray) -> tuple:
    """Decoded pixels ``px`` against the deterministic reference image of
    ``seed`` at w x h -> (reference, PSNR in dB capped at 99, so an exact
    match reads 99): the per-row pixel check of decode_verify,
    image_quality and media.sample_frames."""
    ref = P.synth_pixels(seed, w, h)
    p = P.psnr_db(ref, px)
    return ref, float(min(p, 99.0)) if np.isfinite(p) else 99.0


_PNG_DDL = "image_id string, bytes binary, w int, h int, fmt string"


def _png_row(px: np.ndarray, *keys) -> tuple:
    """``(*keys, png bytes, w, h, 'png')``: the output row of every
    operator that re-encodes pixels as PNG."""
    return (*keys, P.encode_png(np.ascontiguousarray(px)), px.shape[1],
            px.shape[0], "png")


def decode_verify(images: DataFrame, psnr_min: float = 40.0,
                  passthrough: tuple = ()) -> DataFrame:
    """Decode every image and verify pixels against the deterministic
    reference (allclose / PSNR >= psnr_min for lossy) — the BASELINE
    per-row invariant.  Output: image_id, fmt, psnr_db, pix_ok, w, h
    (+ any ``passthrough`` columns, so downstream stages need no
    re-join with the source table)."""
    def row(img_id, blob, w, h, fmt, *extra):
        got = P.decode_image(blob, fmt)
        _, psnr = reference_psnr(int(img_id.rsplit("_", 1)[-1]), w, h, got)
        yield (img_id, fmt, psnr, psnr >= psnr_min, got.shape[1],
               got.shape[0], *extra)

    return map_rows(
        images, ["image_id", "bytes", "w", "h", "fmt", *passthrough],
        "image_id string, fmt string, psnr_db double, pix_ok boolean,"
        " w int, h int" + _ddl(images, passthrough), row)


def image_quality(images: DataFrame, psnr_min: float = 40.0,
                  ssim_min: float = 0.95) -> DataFrame:
    """Decode and score every image against the deterministic reference
    with BOTH standard full-reference metrics: exact-integer PSNR
    (kernels/png.psnr_db) and mean SSIM over uniform 8x8 windows
    (kernels/metrics.ssim — Wang et al. 2004).  Lossless formats must
    hit SSIM 1.0; lossy formats must clear ``ssim_min`` alongside the
    PSNR floor.  Output: image_id, fmt, psnr_db, ssim, ok."""
    from ..kernels import metrics as M

    def row(img_id, blob, w, h, fmt):
        got = P.decode_image(blob, fmt)
        ref, psnr = reference_psnr(int(img_id.rsplit("_", 1)[-1]), w, h,
                                   got)
        s = M.ssim(ref, got)
        # enforce the documented lossless contract: a lossless image that
        # decodes but scores below exactly 1.0 is corrupted, not merely
        # low-quality — the lossy threshold must not paper over it
        floor = (1.0 - 1e-12) if fmt in P.LOSSLESS_FORMATS else ssim_min
        yield img_id, fmt, psnr, s, bool(psnr >= psnr_min and s >= floor)

    return map_rows(images, ["image_id", "bytes", "w", "h", "fmt"],
                    "image_id string, fmt string, psnr_db double,"
                    " ssim double, ok boolean", row)


def ssim_flat_audit(pairs: DataFrame) -> DataFrame:
    """Oracle-checkable SSIM audit over constant (flat) image pairs.

    For constant images with gray levels g1 and g2 every local window has
    zero variance and zero covariance, so the Wang-2004 formula collapses
    to the luminance term, which is an exact rational in the inputs:

        SSIM = (2*g1*g2 + C1) / (g1^2 + g2^2 + C1),   C1 = 65025/10000

    Multiplying numerator and denominator by 10^4 gives exact integers

        ssim_num = 20000*g1*g2 + 65025
        ssim_den = 10000*(g1^2 + g2^2) + 65025

    This operator materializes the actual HxWx3 uint8 images, runs the
    REAL windowed kernel (kernels/metrics.ssim — summed-area tables,
    gray conversion, window shrink for tiny images), and emits the exact
    integers plus ``ssim_ok`` = |kernel - num/den| < 1e-9 per row.  A
    fault anywhere in the kernel (gray weights, window sums, stabilizer
    constants) flips ``ssim_ok`` and breaks the cross-engine hash, while
    the compared values themselves never depend on float
    canonicalization (the audio_features round-4 lesson).

    Input columns: k:long, g1:int, g2:int, w:int, h:int.
    Output: k, g1, g2, ssim_num:bigint, ssim_den:bigint, ssim_ok:int.
    """
    from ..kernels import metrics as M

    def row(k, g1, g2, w, h):
        s = M.ssim(np.full((h, w, 3), g1, np.uint8),
                   np.full((h, w, 3), g2, np.uint8))
        num = 20000 * g1 * g2 + 65025
        den = 10000 * (g1 ** 2 + g2 ** 2) + 65025
        yield k, g1, g2, num, den, int(abs(s - num / den) < 1e-9)

    return map_rows(pairs, ["k", "g1", "g2", "w", "h"],
                    "k long, g1 int, g2 int, ssim_num long, ssim_den long,"
                    " ssim_ok int", row)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, re-encoded as PNG.  Output: image_id,
    bytes, w, h, fmt='png'."""
    def row(img_id, blob, fmt):
        px = P.decode_image(blob, fmt)
        h, w = px.shape[:2]
        yi = np.minimum((np.arange(out_h) * h) // out_h, h - 1)
        xi = np.minimum((np.arange(out_w) * w) // out_w, w - 1)
        yield _png_row(px[yi][:, xi], img_id)

    return map_rows(images, ["image_id", "bytes", "fmt"], _PNG_DDL, row)


def letterbox_images(images: DataFrame, fill: int = 114) -> DataFrame:
    """Letterbox pad-to-square — the standard detector/ViT preprocessing
    step (YOLO pads with gray 114): each image is centered on a
    side x side canvas (side = max(w, h)) filled with ``fill``, so the
    aspect ratio survives where a plain resize would distort it.
    Centering offsets use the floor convention ox=(side-w)//2,
    oy=(side-h)//2.  Map-only at any scale (decode -> pad -> re-encode
    PNG inside one Arrow batch, zero shuffles).  Output: image_id,
    bytes, w, h (both = side), fmt='png', ox, oy."""
    def row(img_id, blob, fmt):
        px = P.decode_image(blob, fmt)
        h, w = px.shape[:2]
        side = max(w, h)
        ox, oy = (side - w) // 2, (side - h) // 2
        canvas = np.full((side, side, 3), fill, dtype=np.uint8)
        canvas[oy:oy + h, ox:ox + w] = px
        yield *_png_row(canvas, img_id), ox, oy

    return map_rows(images, ["image_id", "bytes", "fmt"],
                    _PNG_DDL + ", ox int, oy int", row)


AUGMENT_OPS = ("flip_h", "flip_v", "rot90")


def augment_images(images: DataFrame,
                   ops: tuple = AUGMENT_OPS) -> DataFrame:
    """Geometric training-data augmentation: decode each image, apply
    every requested op, re-encode as PNG — one output row per
    (image, op).  Ops: ``flip_h`` (mirror columns), ``flip_v`` (mirror
    rows), ``rot90`` (90° clockwise; output dims swap).

    Map-only at any scale (zero shuffles): each input row expands to
    len(ops) rows inside the same Arrow batch.  Real per-row codec work
    (PNG decode + encode), the same batch shape a 100 TB augmentation
    pass would run.  Output: image_id, op, bytes, w, h, fmt='png'."""
    def row(img_id, blob, fmt):
        px = P.decode_image(blob, fmt)
        for op in ops:
            if op == "flip_h":
                out = px[:, ::-1]
            elif op == "flip_v":
                out = px[::-1]
            elif op == "rot90":
                out = np.rot90(px, k=-1)  # clockwise
            else:
                raise ValueError(f"unknown augment op {op}")
            yield _png_row(out, img_id, op)

    return map_rows(images, ["image_id", "bytes", "fmt"],
                    "image_id string, op string, bytes binary, w int,"
                    " h int, fmt string", row)


def patchify_images(images: DataFrame, patch: int = 8) -> DataFrame:
    """ViT-style non-overlapping patch grid (Dosovitskiy et al. 2021):
    each image splits into ``floor(h/patch) x floor(w/patch)`` square
    patches (edge remainders dropped, the standard behavior for
    non-divisible inputs); one output row per patch, re-encoded as PNG.

    Map-only at any scale — each input row expands to its patch count
    inside the same Arrow batch, no shuffle.  The numpy reshape does
    the grid split in one strided view (no per-patch slicing loop over
    pixels).  Output: image_id, py, px (patch grid coords), bytes,
    w, h, fmt='png'."""
    def row(img_id, blob, fmt):
        im = P.decode_image(blob, fmt)
        ny, nx = im.shape[0] // patch, im.shape[1] // patch
        grid = (im[:ny * patch, :nx * patch]
                .reshape(ny, patch, nx, patch, 3)
                .transpose(0, 2, 1, 3, 4))  # (ny, nx, p, p, 3)
        for gy in range(ny):
            for gx in range(nx):
                yield _png_row(grid[gy, gx], img_id, gy, gx)

    return map_rows(images, ["image_id", "bytes", "fmt"],
                    "image_id string, py int, px int, bytes binary,"
                    " w int, h int, fmt string", row)


def pixel_checksum(images: DataFrame,
                   passthrough: tuple = ("w", "h")) -> DataFrame:
    """Position-weighted exact-integer pixel checksum:
    ``sum(px[i,j,c] * (i*w*3 + j*3 + c + 1))`` over the decoded image.
    Every pixel gets a distinct weight, so ANY pixel move or value
    change alters the sum — a transform-chain verifier that needs no
    float tolerance and no reference image shipped alongside.
    Output: image_id (+passthrough), checksum bigint."""
    def row(img_id, blob, fmt, *extra):
        px = P.decode_image(blob, fmt).astype(np.int64)
        wts = np.arange(1, px.size + 1, dtype=np.int64).reshape(px.shape)
        yield img_id, *extra, int((px * wts).sum())

    return map_rows(images, ["image_id", "bytes", "fmt", *passthrough],
                    "image_id string" + _ddl(images, passthrough)
                    + ", checksum bigint", row)


def channel_stats(images: DataFrame) -> DataFrame:
    """Per-channel corpus normalization statistics — the mean/std
    constants a training pipeline bakes into its preprocessing — as
    EXACT integers: ``n_px``, ``sum_v``, ``sum_sq`` per channel (the
    caller derives mean = sum_v/n_px and var = sum_sq/n_px - mean²
    in whatever precision it wants; the engine never rounds).

    Scale shape: every image emits its three per-channel
    (c, n_px, sum_v, sum_sq) rows, and Spark's map-side partial
    aggregate folds them per partition before the one ``groupBy(c)``
    shuffle, which therefore moves O(partitions·3) rows — at 10^12
    images the shuffle is still a few thousand rows."""
    def row(blob, fmt):
        px = P.decode_image(blob, fmt).astype(np.int64)
        for c in range(3):
            ch = px[..., c]
            yield c, ch.size, int(ch.sum()), int((ch * ch).sum())

    partials = map_rows(images, ["bytes", "fmt"],
                        "c int, n_px bigint, sum_v bigint, sum_sq bigint",
                        row)
    return partials.groupBy("c").agg(
        F.sum("n_px").alias("n_px"),
        F.sum("sum_v").alias("sum_v"),
        F.sum("sum_sq").alias("sum_sq"))


def mixup_images(images: DataFrame, pairs: DataFrame,
                 lam_256: int = 64) -> DataFrame:
    """Mixup augmentation (Zhang et al. 2018) with exact integer
    arithmetic: for each (id_a, id_b) pair, blend the decoded pixels as
    ``out = (lam·a + (256-lam)·b + 128) >> 8`` (lam in /256 units so the
    blend is reproducible bit-for-bit across engines) and re-encode as
    PNG.  Both images must share dims — mismatched pairs raise rather
    than silently resize (a training pipeline pairs within a
    size-bucket; silent coercion would corrupt the mix).

    Scale shape: two equi-joins against the image table (Catalyst/AQE
    picks broadcast when the pair list is small, shuffle-hash when it
    isn't — the pair table and image table both partition cleanly on
    id), then one map-only Arrow stage doing the real codec work.
    Output: id_a, id_b, bytes, w, h, fmt='png'."""
    if not 0 <= lam_256 <= 256:
        raise ValueError(f"lam_256 out of range: {lam_256}")
    a = images.select(F.col("image_id").alias("id_a"),
                      F.col("bytes").alias("bytes_a"),
                      F.col("fmt").alias("fmt_a"))
    b = images.select(F.col("image_id").alias("id_b"),
                      F.col("bytes").alias("bytes_b"),
                      F.col("fmt").alias("fmt_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    lam = int(lam_256)

    def row(id_a, id_b, ba, fa, bb, fb):
        pa = P.decode_image(ba, fa).astype(np.int64)
        pb = P.decode_image(bb, fb).astype(np.int64)
        if pa.shape != pb.shape:
            raise ValueError(
                f"mixup pair dims differ: {pa.shape} vs {pb.shape}")
        out = ((lam * pa + (256 - lam) * pb + 128) >> 8).astype(np.uint8)
        yield _png_row(out, id_a, id_b)

    return map_rows(joined,
                    ["id_a", "id_b", "bytes_a", "fmt_a", "bytes_b", "fmt_b"],
                    "id_a string, id_b string, bytes binary, w int, h int,"
                    " fmt string", row)


def _phash_pairs(images: DataFrame, max_hamming: int,
                 cell_col: str | None) -> DataFrame:
    """Shared body of the two phash near-dup operators: 16-bit chunk
    blocking, equi-join (optionally cell-fenced), bit_count verify —
    one implementation so chunking/hamming fixes cannot diverge."""
    cols = [F.col("image_id"), F.col("phash")]
    if cell_col:
        cols.append(F.col(cell_col).alias("cell"))
    chunks = images.select(
        *cols,
        F.explode(F.array(*[
            F.shiftrightunsigned("phash", 16 * c)
            .bitwiseAND(F.lit(0xFFFF)).alias("k") for c in range(4)
        ])).alias("key"),
    )
    a, b = chunks.alias("a"), chunks.alias("b")
    cond = ((F.col("a.key") == F.col("b.key"))
            & (F.col("a.image_id") < F.col("b.image_id")))
    out_cols = []
    if cell_col:
        cond = (F.col("a.cell") == F.col("b.cell")) & cond
        out_cols.append(F.col("a.cell").alias("cell"))
    ham = F.bit_count(F.col("a.phash").bitwiseXOR(F.col("b.phash")))
    return (
        a.join(b, cond)
        .select(*out_cols,
                F.col("a.image_id").alias("id_a"),
                F.col("b.image_id").alias("id_b"), ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def phash_near_dups(images: DataFrame, max_hamming: int = 4) -> DataFrame:
    """Near-dup image pairs by phash hamming distance, blocked on 16-bit
    phash chunks (pigeonhole: hamming<=4 over 64 bits shares a chunk only
    probabilistically — exact for <=3; chunk blocking is the standard
    recall/cost tradeoff).  Uses the table's own phash column (JVM-only)."""
    return _phash_pairs(images, max_hamming, cell_col=None)


def geo_phash_near_dups(images: DataFrame, cell_col: str = "h3_coarse",
                        max_hamming: int = 4) -> DataFrame:
    """Geo-fenced near-dup image pairs: phash hamming <= max_hamming AND
    same coarse spatial cell — the graft's geospatial × image
    composition.  The policy matters as much as the plan: planet-scale
    photo corpora near-duplicate LOCALLY (the same landmark shot ten
    thousand times), and fencing candidate pairs to a cell both
    matches that reality and turns the pair generation into
    independent per-cell subproblems.  The join key becomes
    (cell, 16-bit phash chunk), so bucket sizes are bounded by cell
    density — and the input's (h3_coarse, salt) partition spec means
    the heaviest urban cells are already salted upstream.  Pure
    Catalyst end to end (explode + equi-join + bit_count), zero
    Python.  Output: (cell, id_a, id_b, hamming)."""
    return _phash_pairs(images, max_hamming, cell_col=cell_col)


def reference_caption_expr(k):
    """The deterministic reference caption for image ordinal ``k`` — the
    closed-form twin of sources/synth.images_df's caption column.  Kept
    here so the verifier regenerates it independently of the source
    (BASELINE input_hint: 'captions byte-identical per row')."""
    from ..sources.synth import A1, M32
    return F.concat(
        F.lit("caption for image "), k.cast("string"), F.lit(" // "),
        F.format_string("%08x", (k * F.lit(A1)) % F.lit(M32)),
    )


def verify_captions(images: DataFrame, id_col: str = "image_id",
                    caption_col: str = "caption") -> DataFrame:
    """Per-row caption byte-identity check — the second half of the
    BASELINE per-row invariant (pixels via :func:`decode_verify`,
    captions here).  The image ordinal is parsed from the id and the
    reference caption regenerated JVM-side, so the check is pure
    Catalyst: zero Python, zero shuffles, map-only at any scale.
    Output: (image_id, caption_ok, caption_md5)."""
    k = F.substring_index(F.col(id_col), "_", -1).cast("long")
    ref = reference_caption_expr(k)
    return images.select(
        F.col(id_col).alias("image_id"),
        (F.col(caption_col).cast("binary") == ref.cast("binary"))
        .cast("int").alias("caption_ok"),
        F.md5(F.col(caption_col).cast("binary")).alias("caption_md5"),
    )


def to_grayscale(images: DataFrame) -> DataFrame:
    """Integer-exact BT.601 grayscale conversion — the standard
    preprocessing step before luminance-only models / pHash pipelines:
    ``luma = (77·R + 150·G + 29·B + 128) >> 8`` (the classic /256
    fixed-point weights, summing to exactly 256, so the result is
    bit-reproducible cross-engine with no float rounding anywhere).
    The luma plane is replicated into all three channels so the output
    stays a standard RGB PNG and composes with every downstream
    operator (pixel_checksum, patchify, augment) unchanged.

    Map-only at any scale: decode -> vectorized numpy luma -> encode
    inside the Arrow batch, zero shuffles.  Output: image_id, bytes,
    w, h, fmt='png'."""
    def row(img_id, blob, fmt):
        px = P.decode_image(blob, fmt).astype(np.int64)
        g = ((77 * px[..., 0] + 150 * px[..., 1] + 29 * px[..., 2] + 128)
             >> 8).astype(np.uint8)
        yield _png_row(np.repeat(g[:, :, None], 3, axis=2), img_id)

    return map_rows(images, ["image_id", "bytes", "fmt"], _PNG_DDL, row)


# SDXL-style aspect-ratio buckets (Podell et al. 2023 §2.3 train with
# bucketed batching so a batch shares one resolution).  (bw, bh) are
# RATIOS, not pixel sizes; the list covers the common photo/video
# shapes both orientations.
AR_BUCKETS: tuple[tuple[int, int], ...] = (
    (1, 1), (4, 3), (3, 4), (16, 9), (9, 16), (3, 2), (2, 3))


def _lcm_all(vals):
    import math
    out = 1
    for v in vals:
        out = out * v // math.gcd(out, v)
    return out


def aspect_bucket_col(w, h, buckets: tuple[tuple[int, int], ...]
                      = AR_BUCKETS):
    """Bucket index (argmin over ``buckets`` of |w/h - bw/bh|, ties to
    the lowest index) as a pure Catalyst expression — no floats
    anywhere: |w/h - bw_i/bh_i| ordering is decided by the integer
    cross-multiplied cost |w*bh_i - h*bw_i| * (L / bh_i) with L =
    lcm(all bh), an exact common-denominator compare.  Zero UDF, zero
    shuffle; whole-stage codegen at any corpus size."""
    L = _lcm_all([bh for _, bh in buckets])
    costs = [
        F.struct(
            (F.abs(w * F.lit(bh) - h * F.lit(bw)) * F.lit(L // bh))
            .cast("long").alias("cost"),
            F.lit(i).alias("idx"))
        for i, (bw, bh) in enumerate(buckets)
    ]
    return F.array_sort(F.array(*costs))[0]["idx"]


def assign_aspect_buckets(images: DataFrame,
                          buckets: tuple[tuple[int, int], ...] = AR_BUCKETS,
                          w_col: str = "w", h_col: str = "h") -> DataFrame:
    """Aspect-ratio bucketed-batching assignment (the SDXL training
    prep): adds ``bucket: int`` and ``bname: string`` ('16:9') chosen
    by exact integer arithmetic.  Map-only projection — grouping a
    10^12-image corpus into resolution batches costs zero shuffles
    until the caller repartitions on the bucket."""
    idx = aspect_bucket_col(F.col(w_col), F.col(h_col), buckets)
    names = F.array(*[F.lit(f"{bw}:{bh}") for bw, bh in buckets])
    return images.withColumn("bucket", idx).withColumn(
        "bname", names[F.col("bucket")])


def aspect_bucket_oracle_sql(buckets: tuple[tuple[int, int], ...]
                             = AR_BUCKETS) -> str:
    """DuckDB VALUES-list + window twin of :func:`aspect_bucket_col`
    (same integer costs, same tie-break); yields (idx, bw, bh, m) rows
    to CROSS JOIN with the image table."""
    L = _lcm_all([bh for _, bh in buckets])
    rows = ", ".join(
        f"({i}, {bw}, {bh}, {L // bh}, '{bw}:{bh}')"
        for i, (bw, bh) in enumerate(buckets))
    return f"(VALUES {rows}) AS b(idx, bw, bh, m, bname)"


def scan_corrupt(images: DataFrame) -> DataFrame:
    """Corpus corruption triage — the gate every web-crawl image
    pipeline runs before spending GPU decode time: attempt a full
    decode of every blob and classify the failure.  Output:
    (image_id, status) with status in {'ok', 'bad_magic', 'corrupt'} —
    bad_magic = the container signature is wrong (mislabeled /
    Content-Type-lied files), corrupt = signature ok but the stream is
    truncated or malformed (interrupted downloads).

    Map-only at any scale (zero shuffles); the whole cost is the
    decode itself, which is the point — a blob that decodes here
    decodes everywhere downstream."""
    def row(img_id, blob, fmt):
        try:
            P.decode_image(blob, fmt)
            status = "ok"
        except (AssertionError, ValueError) as e:
            # kernels/png.py:51 "not a PNG" / kernels/jpeg.py:451
            # "not a JPEG (missing SOI)" — wrong container signature vs
            # any other malformation
            status = "bad_magic" if "not a" in str(e) else "corrupt"
        except Exception:
            status = "corrupt"
        yield img_id, status

    return map_rows(images, ["image_id", "bytes", "fmt"],
                    "image_id string, status string", row)


_PNG_SIG_HEX = "89504E470D0A1A0A"
# SOF0 payload after the FFC0 marker: 2-byte length + 1-byte sample
# precision (6 hex chars skipped), then big-endian height and width.
# The leading non-greedy (?:..)*? forces a byte-aligned (even hex
# offset) match, so entropy bytes can never shift the frame.
_SOF0_PAT = r"^(?:..)*?FFC0......(....)(....)"


def image_meta(images: DataFrame, prefix_bytes: int = 1024,
               passthrough: tuple = ("image_id",)) -> DataFrame:
    """Header-only image profiling — dimensions and container format
    straight from the file header, ZERO decode and ZERO Python.

    The 100 TB argument: the first pass over a crawled image corpus
    (size gates, aspect buckets, format routing) needs w/h/format for
    every blob but none of the pixels.  Decoding 100 TB of JPEG just
    to read two header shorts is the classic waste; this operator
    reads them with pure Catalyst expressions over the first
    ``prefix_bytes`` bytes, so the whole profiling stage is one
    codegen'd map — no Arrow transfer, no shuffle, and (over parquet
    with the blob column) only the header pages of the scan matter.

    * PNG: the IHDR chunk is at a FIXED offset (8-byte signature +
      4-byte length + "IHDR"), so width/height are
      ``conv(substr(hex, 33|41, 8), 16, 10)``.
    * JPEG baseline: the FIRST byte-aligned SOF0 marker (FFC0) in the
      hex prefix; height and width are the two big-endian shorts after
      the 3-byte length+precision field.  This is exact for every file
      this engine's own codec writes (kernels/jpeg.py emits no APPn
      segments) and for typical camera baselines — but a regexp cannot
      walk variable-length segments, so an APPn payload that itself
      contains an aligned FFC0 (e.g. an EXIF-embedded THUMBNAIL jpeg)
      matches first and yields the thumbnail's dimensions.  For
      EXIF-rich crawled corpora, treat w_hdr/h_hdr as a triage hint
      and take exact dims from the real decode stage
      (scan_corrupt / decode_verify), which parses segments properly.
    * Anything else (or a truncated header): fmt_hdr='unknown',
      NULL dims — the triage bucket `scan_corrupt` decodes for real.

    Counterpart of the reference's attribute-only first pass (it
    reads OSM headers/bboxes before touching geometry,
    /root/reference/src/read_pbf.cpp); same idea lifted to blobs.
    """
    hexs = F.hex(F.substring(F.col("bytes"), 1, prefix_bytes))
    is_png = hexs.startswith(_PNG_SIG_HEX)
    is_jpeg = hexs.startswith("FFD8FF")
    jh = F.regexp_extract(hexs, _SOF0_PAT, 1)
    jw = F.regexp_extract(hexs, _SOF0_PAT, 2)
    fmt_hdr = (F.when(is_png, F.lit("png"))
               .when(is_jpeg & (jw != ""), F.lit("jpeg"))
               .otherwise(F.lit("unknown")))
    w_hdr = (F.when(is_png, F.conv(F.substring(hexs, 33, 8), 16, 10))
             .when(is_jpeg & (jw != ""), F.conv(jw, 16, 10))
             .cast("int"))
    h_hdr = (F.when(is_png, F.conv(F.substring(hexs, 41, 8), 16, 10))
             .when(is_jpeg & (jh != ""), F.conv(jh, 16, 10))
             .cast("int"))
    return images.select(
        *passthrough, fmt_hdr.alias("fmt_hdr"),
        w_hdr.alias("w_hdr"), h_hdr.alias("h_hdr"))


def filter_funnel(images: DataFrame, min_side: int = 32,
                  ar_num: int = 3, ar_den: int = 2,
                  min_caption: int = 33,
                  w_col: str = "w", h_col: str = "h",
                  caption_col: str = "caption") -> DataFrame:
    """LAION-style acceptance funnel for an image+caption corpus
    (Schuhmann et al. 2022 §2.2 run exactly this chain before CLIP
    scoring): classify every row by its FIRST failing gate —
    'too_small' (either side < min_side), 'bad_aspect' (w/h outside
    [ar_den/ar_num, ar_num/ar_den], checked by integer
    cross-multiplication, no floats), 'short_caption' (< min_caption chars), else 'ok' —
    and roll up the counts.  The per-reason funnel is the
    observability a 10^12-row filter stage needs: silent-drop
    pipelines cannot explain WHERE the corpus went.

    Map-only projection + one tiny rollup shuffle (#reasons rows out);
    all gates integer-exact, so the report is oracle-checkable."""
    w, h = F.col(w_col), F.col(h_col)
    reason = (
        # the null gate comes FIRST: every later predicate is SQL-null
        # on a null field and would fall through to 'ok', silently
        # admitting exactly the rows the funnel exists to reject
        F.when(w.isNull() | h.isNull() | F.col(caption_col).isNull(),
               F.lit("missing_fields"))
        .when((w < min_side) | (h < min_side), F.lit("too_small"))
        .when((w * ar_den > h * ar_num) | (h * ar_den > w * ar_num),
              F.lit("bad_aspect"))
        .when(F.length(caption_col) < min_caption,
              F.lit("short_caption"))
        .otherwise(F.lit("ok")))
    return (images.select(reason.alias("reason"))
            .groupBy("reason").agg(F.count(F.lit(1)).alias("n")))


def orient_images(images: DataFrame,
                  orient_col: str = "orientation") -> DataFrame:
    """EXIF-orientation normalization — the preprocessing stage real
    photo corpora need before any pixel op (cameras store rotation as
    TIFF tag 274, not as rotated pixels; a pipeline that skips this
    trains on sideways images).  Applies the upright transform
    (kernels/jpeg.apply_orientation — rot90/flip per the 8 TIFF
    values) to each decoded image and re-encodes PNG.  Map-only, zero
    shuffles.  Output: image_id, bytes, w/h (post-rotation), fmt,
    orientation (passed through)."""
    from ..kernels import jpeg as J

    def row(img_id, blob, fmt, o):
        yield *_png_row(J.apply_orientation(P.decode_image(blob, fmt), o),
                        img_id), o

    return map_rows(images, ["image_id", "bytes", "fmt", orient_col],
                    _PNG_DDL + ", orientation int", row)
