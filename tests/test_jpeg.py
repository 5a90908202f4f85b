"""Baseline JFIF codec tests (kernels/jpeg.py — pure numpy, built from
the public JPEG standard ITU-T T.81)."""

import os

import numpy as np
import pytest

from tilemaker_spark.kernels import jpeg as J
from tilemaker_spark.kernels import png as P

# real JPEGs that ship with system Python installs — interop evidence
# that the decoder handles foreign encoders' output, skipped when absent
FOREIGN_420 = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
               "python3.11/test/imghdrdata/python.jpg")
FOREIGN_GRAY = ("/mnt/sandboxing/model_tools_env/v1/python/install/lib/"
                "python3.11/site-packages/IPython/core/tests/2x2.jpg")


def test_roundtrip_psnr_invariant_many_seeds():
    """encode->decode holds the BASELINE PSNR>=40dB invariant across
    seeds and the size mix images_df generates."""
    sizes = [(16, 16), (24, 40), (48, 40), (33, 31)]
    worst = 999.0
    for seed in range(24):
        w, h = sizes[seed % 4]
        px = P.synth_pixels(seed, w, h)
        got = J.decode_jpeg(J.encode_jpeg(px, quality=95))
        assert got.shape == (h, w, 3)
        worst = min(worst, P.psnr_db(px, got))
    assert worst >= 40.0, worst


def test_roundtrip_smooth_gradient_high_psnr():
    xx, yy = np.meshgrid(np.arange(64), np.arange(48))
    sm = ((np.stack([xx * 2 % 256, yy * 3 % 256, (xx + yy) % 256], -1)
           // 2) + 64).astype(np.uint8)
    got = J.decode_jpeg(J.encode_jpeg(sm, quality=90))
    assert P.psnr_db(sm, got) >= 45.0


def test_roundtrip_420_subsampled():
    """4:2:0 chroma subsampling round-trips smooth content acceptably
    and reconstructs exact odd/even dimensions."""
    for (w, h) in [(1, 1), (7, 5), (17, 9), (16, 16), (33, 31)]:
        px = P.synth_pixels(7, w, h)
        got = J.decode_jpeg(J.encode_jpeg(px, 92, subsample=True))
        assert got.shape == (h, w, 3)
    xx, yy = np.meshgrid(np.arange(40), np.arange(40))
    sm = ((np.stack([xx * 3 % 256, yy * 2 % 256, (2 * xx + yy) % 256], -1)
           // 2) + 60).astype(np.uint8)
    got = J.decode_jpeg(J.encode_jpeg(sm, 92, subsample=True))
    assert P.psnr_db(sm, got) >= 30.0


def test_flat_color_compresses_tiny():
    px = np.full((32, 32, 3), 200, np.uint8)
    b = J.encode_jpeg(px, 90)
    assert len(b) < 900          # DC-only MCUs + EOBs
    got = J.decode_jpeg(b)
    assert P.psnr_db(px, got) >= 50.0


def test_quality_tables_monotone():
    l50, c50 = J.quality_tables(50)
    l90, _ = J.quality_tables(90)
    assert (l90 <= l50).all() and l90.min() >= 1
    assert (l50 == J.QUANT_LUM).all()
    assert c50.max() <= 255


def test_marker_stream_well_formed():
    b = J.encode_jpeg(P.synth_pixels(1, 16, 16))
    assert b[:2] == b"\xff\xd8" and b[-2:] == b"\xff\xd9"
    assert b[2:4] == b"\xff\xe0" and b[6:11] == b"JFIF\x00"
    # no bare 0xFF-nonzero markers inside the entropy segment except EOI
    sos = b.index(b"\xff\xda")
    ln = (b[sos + 2] << 8) | b[sos + 3]
    body = b[sos + 2 + ln:-2]
    i = 0
    while i < len(body) - 1:
        if body[i] == 0xFF:
            assert body[i + 1] == 0x00, f"unstuffed 0xFF at {i}"
            i += 2
        else:
            i += 1


def test_decode_rejects_progressive_and_garbage():
    with pytest.raises(ValueError):
        J.decode_jpeg(b"not a jpeg at all")
    # minimal SOF2 frame -> explicit progressive error
    b = bytearray(J.encode_jpeg(P.synth_pixels(1, 16, 16)))
    i = bytes(b).index(b"\xff\xc0")
    b[i + 1] = 0xC2
    with pytest.raises(ValueError, match="progressive"):
        J.decode_jpeg(bytes(b))


def test_restart_interval_segments():
    """DRI/RSTn handling: splice restart markers into a re-encoded
    stream via the public _unstuff contract."""
    segs, used = J._unstuff(bytes([0x12, 0xFF, 0x00, 0x34,
                                   0xFF, 0xD0, 0x56, 0xFF, 0xD9]))
    assert segs == [bytes([0x12, 0xFF, 0x34]), bytes([0x56])]
    assert used == 7


@pytest.mark.skipif(not os.path.exists(FOREIGN_420),
                    reason="no system jpeg fixture")
def test_foreign_jpeg_420_decodes():
    """A real-world baseline JFIF (SOF0, 4:2:0, foreign encoder) decodes
    to plausible pixels — the decoder is not coupled to our encoder."""
    img = J.decode_jpeg(open(FOREIGN_420, "rb").read())
    assert img.shape == (16, 16, 3)
    # the Python-logo thumbnail: not black, not saturated, has structure
    assert 40 < img.mean() < 220
    assert img.std() > 20


@pytest.mark.skipif(not os.path.exists(FOREIGN_GRAY),
                    reason="no system jpeg fixture")
def test_foreign_grayscale_jpeg_decodes():
    img = J.decode_jpeg(open(FOREIGN_GRAY, "rb").read())
    assert img.shape == (2, 2, 3)
    # grayscale replicates channels
    assert (img[..., 0] == img[..., 1]).all()


def test_decode_image_dispatch():
    px = P.synth_pixels(5, 24, 24)
    assert (P.decode_image(P.encode_png(px), "png") == px).all()
    got = P.decode_image(P.encode_jpeg(px), "jpeg")
    assert P.psnr_db(px, got) >= 40.0


def test_decoder_skips_exif_app1_segment():
    """An EXIF APP1 segment (camera orientation tag, big-endian TIFF)
    between SOI and the frame is skipped like any unknown segment."""
    import struct
    px = (np.arange(16 * 24 * 3, dtype=np.uint8)
          .reshape(16, 24, 3) * 7) % 256
    blob = J.encode_jpeg(px)
    tiff = (b"MM" + struct.pack(">H", 42) + struct.pack(">I", 8)
            + struct.pack(">H", 1)
            + struct.pack(">HHI", 0x0112, 3, 1)
            + struct.pack(">HH", 6, 0) + struct.pack(">I", 0))
    payload = b"Exif\x00\x00" + tiff
    seg = b"\xff\xe1" + struct.pack(">H", len(payload) + 2) + payload
    tagged = blob[:2] + seg + blob[2:]
    assert np.array_equal(J.decode_jpeg(tagged), J.decode_jpeg(blob))
    with pytest.raises(ValueError):
        J.apply_orientation(px, 0)


def test_apply_orientation_involution_pairs():
    import numpy as np
    from tilemaker_spark.kernels import jpeg as J
    px = np.arange(5 * 8 * 3, dtype=np.int64).reshape(5, 8, 3)
    # 2,3,4,5,7 are involutions; 6 and 8 are mutual inverses
    for o in (2, 3, 4, 5, 7):
        assert np.array_equal(
            J.apply_orientation(J.apply_orientation(px, o), o), px)
    assert np.array_equal(
        J.apply_orientation(J.apply_orientation(px, 6), 8), px)
