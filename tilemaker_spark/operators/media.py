"""Multimodal (video/audio) column operators.

Same contract as operators/images.py: media are opaque ``binary``
columns with typed metadata, processed by one Arrow-batched
``mapInArrow`` row worker (:func:`operators.rows.map_rows`) — and,
unusually for a container with no media libraries, the codecs
underneath are real: AVI/MJPEG and WAV/PCM are parsed by
:mod:`kernels.riff` and video frames are genuine baseline-JFIF images
decoded by :mod:`kernels.jpeg`.

Scale design: every operator here is a single linear ``mapInArrow``
(no shuffle, no driver collect); frame sampling slices only the wanted
frames out of the container (O(n) 8-byte header reads + O(k) payload
copies).

Reference scope: systemed/tilemaker has no media pipeline; this is the
training-data-pipeline operator family the graft adds (image axis).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..kernels import png as P
from ..kernels import riff as R
from .images import reference_psnr
from .rows import map_rows


def sample_frames(videos: DataFrame, target_fps: int = 5,
                  verify: bool = True, psnr_min: float = 40.0) -> DataFrame:
    """Sample each video down to ~``target_fps`` and decode the sampled
    frames: keep every ``step = max(1, fps // target_fps)``-th frame.

    Output: video_id, frame_idx, t_ms (= frame_idx*1000 // fps), w, h,
    pix_ok.  With ``verify`` each decoded frame is PSNR-checked against
    the deterministic reference pixels (seed convention of
    sources/synth.videos_df: seed = video_seed*1000 + frame_idx) — the
    BASELINE per-row invariant extended to the video path."""
    def row(vid, data):
        meta = R.decode_avi_header(data)
        fps = meta["fps"]
        if fps <= 0:
            raise ValueError(
                f"{vid}: non-positive fps {fps} in AVI header "
                "(strh rate < scale?) — cannot derive timestamps")
        step = max(1, fps // max(target_fps, 1))
        frames = R.avi_frames(data, set(range(0, meta["n_frames"], step)))
        # the synth-seed convention only applies when verifying against
        # the deterministic reference pixels; parsing it eagerly would
        # reject real-world video ids even with verify=False
        vseed = int(vid.rsplit("_", 1)[-1]) if verify else 0
        for idx in sorted(frames):
            px = P.decode_image(frames[idx], "jpeg")
            h, w = px.shape[:2]
            ok = (not verify or reference_psnr(vseed * 1000 + idx, w, h,
                                               px)[1] >= psnr_min)
            yield vid, idx, idx * 1000 // fps, w, h, ok

    return map_rows(videos, ["video_id", "bytes"],
                    "video_id string, frame_idx long, t_ms long, w long,"
                    " h long, pix_ok boolean", row)


def audio_features(audio: DataFrame) -> DataFrame:
    """Decode WAV PCM and extract waveform features.

    Output: audio_id, sample_rate, n_samples, duration_ms,
    peak (max |s|), zero_crossings (sign changes, zeros count as
    positive), sum_sq (sum of s^2, exact int64).  Every feature is pure
    integer arithmetic so a SQL oracle regenerating the PCM reproduces
    them bit-exactly with no cross-engine float canonicalization
    (RMS, if needed, is sqrt(sum_sq / n_samples) downstream).  16-bit
    PCM keeps sum_sq <= n * 2^30, far inside int64 for any real clip."""
    def row(aid, blob):
        s, sr = R.decode_wav(blob)
        v = s.astype(np.int64)
        n = len(v)
        neg = v < 0
        yield (aid, sr, n, n * 1000 // sr, int(np.abs(v).max()) if n else 0,
               int((neg[1:] != neg[:-1]).sum()), int((v * v).sum()))

    return map_rows(audio, ["audio_id", "bytes"],
                    "audio_id string, sample_rate long, n_samples long,"
                    " duration_ms long, peak long, zero_crossings long,"
                    " sum_sq long", row)
