"""Minimal pure-Python PNG codec (RGB8) + deterministic synthetic pixels.

The BASELINE input is an image+caption table whose decoded pixels must be
allclose to the reference codec (PSNR >= 40 dB for lossy formats).  No
image libraries exist in this environment, so:

* PNG (lossless) is implemented for real — encode/decode round-trips
  bit-exact (PSNR = inf), via the public PNG spec (zlib + filter 0).
* JPEG (lossy) is also real: a from-scratch baseline JFIF codec in
  pure numpy (kernels/jpeg.py — Huffman + dequant + IDCT decode,
  DCT + quality-scaled quantize + Huffman encode), so the PSNR>=40dB
  invariant is exercised against an actual entropy-coded format,
  including foreign baseline JFIF files.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> PNG bytes (filter 0, color type 2, 8-bit)."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> (h, w, 3) uint8. Supports filters 0-4, color type 2."""
    assert data[:8] == b"\x89PNG\r\n\x1a\n", "not a PNG"
    i = 8
    w = h = 0
    idat = b""
    while i < len(data):
        (ln,) = struct.unpack(">I", data[i:i + 4])
        tag = data[i + 4:i + 8]
        payload = data[i + 8:i + 8 + ln]
        i += 12 + ln
        if tag == b"IHDR":
            w, h, bits, ctype = struct.unpack(">IIBB", payload[:10])
            assert bits == 8 and ctype == 2, "only RGB8 supported"
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    raw = zlib.decompress(idat)
    stride = w * 3
    # fast path: all rows filter 0 (what encode_png emits) -> one
    # vectorized reshape instead of a per-row unfilter loop; the decode
    # stage is the pipeline's hot loop
    arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    if not arr[:, 0].any():
        return arr[:, 1:].reshape(h, w, 3).copy()
    out = np.zeros((h, stride), np.uint8)
    pos = 0
    prev = np.zeros(stride, np.int32)
    for row in range(h):
        f = raw[pos]
        pos += 1
        line = np.frombuffer(raw[pos:pos + stride], np.uint8).astype(np.int32)
        pos += stride
        if f == 0:
            rec = line
        elif f == 1:  # Sub
            rec = line.copy()
            for x in range(3, stride):
                rec[x] = (rec[x] + rec[x - 3]) & 0xFF
        elif f == 2:  # Up
            rec = (line + prev) & 0xFF
        elif f == 3:  # Average
            rec = line.copy()
            for x in range(stride):
                left = rec[x - 3] if x >= 3 else 0
                rec[x] = (rec[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            rec = line.copy()
            for x in range(stride):
                a = rec[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rec[x] = (rec[x] + pred) & 0xFF
        else:
            raise ValueError(f"filter {f}")
        out[row] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, 3)


# ---------------------------------------------------------------------------
# Deterministic synthetic pixels + lossy-codec entry points
# ---------------------------------------------------------------------------

def synth_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Deterministic (h, w, 3) uint8 image from an integer seed (PCG64):
    a bilinear-upsampled coarse random lattice plus mild Gaussian detail
    — image-like spectra (dominant low frequencies), unlike uniform
    noise, which no lossy codec can represent and which no real photo
    resembles.  The PSNR>=40dB invariant is therefore exercised against
    content with realistic frequency content."""
    rng = np.random.Generator(np.random.PCG64(seed))
    gh, gw = max(2, h // 8 + 1), max(2, w // 8 + 1)
    coarse = rng.integers(0, 256, (gh, gw, 3)).astype(np.float64)
    ys = np.linspace(0.0, gh - 1.0, h)
    xs = np.linspace(0.0, gw - 1.0, w)
    y0 = np.floor(ys).astype(np.int64)
    x0 = np.floor(xs).astype(np.int64)
    y1 = np.minimum(y0 + 1, gh - 1)
    x1 = np.minimum(x0 + 1, gw - 1)
    fy = (ys - y0)[:, None, None]
    fx = (xs - x0)[None, :, None]
    img = (coarse[y0][:, x0] * (1 - fy) * (1 - fx)
           + coarse[y0][:, x1] * (1 - fy) * fx
           + coarse[y1][:, x0] * fy * (1 - fx)
           + coarse[y1][:, x1] * fy * fx)
    img += rng.normal(0.0, 1.5, (h, w, 3))
    return np.clip(img.round(), 0, 255).astype(np.uint8)


def gradient_pixels(seed: int, w: int, h: int) -> np.ndarray:
    """Closed-form deterministic (h, w, 3) uint8 image:
    ``px[y, x, c] = (7x + 13y + 29c + 31*seed) % 256``.

    Unlike :func:`synth_pixels` (PCG64 — realistic content, but only
    reproducible in numpy), every pixel here is a one-line integer
    formula any SQL engine can evaluate, so whole
    decode -> transform -> checksum chains (resize, flips, rotations)
    get exact-integer DuckDB oracle twins.  Always paired with PNG
    (lossless) so the checksum is analytic end-to-end."""
    x = np.arange(w, dtype=np.int64) * 7
    y = np.arange(h, dtype=np.int64) * 13
    c = np.arange(3, dtype=np.int64) * 29
    px = (x[None, :, None] + y[:, None, None] + c[None, None, :]
          + 31 * int(seed)) % 256
    return px.astype(np.uint8)


JPEG_QUALITY = 95  # default encode quality: worst-case PSNR ~42 dB on
#                    synth_pixels content, comfortably over the 40 dB
#                    BASELINE invariant (uniform noise, which no codec
#                    can hold 40 dB on, is not image-like content)


def encode_jpeg(pixels: np.ndarray, quality: int = JPEG_QUALITY) -> bytes:
    """Real baseline JFIF encode (kernels/jpeg.py — pure numpy)."""
    from . import jpeg as J
    return J.encode_jpeg(pixels, quality=quality)


# the formats decode_image reads back bit-exactly
LOSSLESS_FORMATS = frozenset({"png"})


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "png":
        return decode_png(data)
    if fmt == "jpeg":
        from . import jpeg as J
        return J.decode_jpeg(data)
    raise ValueError(f"unknown format {fmt}")


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio between two uint8 images; inf if equal."""
    # int16 diff / int32 square: exact integer math (255^2 fits int32)
    # at a quarter of the float64 path's memory traffic — the decode+
    # verify stage is bandwidth-bound at wide core counts
    d = a.astype(np.int16) - b.astype(np.int16)
    d32 = d.astype(np.int32)
    mse = float(np.mean(d32 * d32))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
