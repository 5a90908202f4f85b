"""Multimodal (video/audio) column operators.

Same contract as operators/images.py: media are opaque ``binary``
columns with typed metadata, processed by Arrow-batched ``mapInPandas``
— and, unusually for a container with no media libraries, the codecs
underneath are real: AVI/MJPEG and WAV/PCM are parsed by
:mod:`kernels.riff` and video frames are genuine baseline-JFIF images
decoded by :mod:`kernels.jpeg`.

Scale design: every operator here is a single linear ``mapInPandas``
(no shuffle, no driver collect); frame sampling slices only the wanted
frames out of the container (O(n) 8-byte header reads + O(k) payload
copies).

Reference scope: systemed/tilemaker has no media pipeline; this is the
training-data-pipeline operator family the graft adds (image axis).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..kernels import png as P
from ..kernels import riff as R


def sample_frames(videos: DataFrame, target_fps: int = 5,
                  verify: bool = True, psnr_min: float = 40.0) -> DataFrame:
    """Sample each video down to ~``target_fps`` and decode the sampled
    frames: keep every ``step = max(1, fps // target_fps)``-th frame.

    Output: video_id, frame_idx, t_ms (= frame_idx*1000 // fps), w, h,
    pix_ok.  With ``verify`` each decoded frame is PSNR-checked against
    the deterministic reference pixels (seed convention of
    sources/synth.videos_df: seed = video_seed*1000 + frame_idx) — the
    BASELINE per-row invariant extended to the video path."""
    schema = ("video_id string, frame_idx long, t_ms long, w long, h long,"
              " pix_ok boolean")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("video_id", "frame_idx", "t_ms", "w", "h", "pix_ok")}
            for vid, blob in zip(pdf["video_id"], pdf["bytes"]):
                data = bytes(blob)
                meta = R.decode_avi_header(data)
                fps = meta["fps"]
                if fps <= 0:
                    raise ValueError(
                        f"{vid}: non-positive fps {fps} in AVI header "
                        "(strh rate < scale?) — cannot derive timestamps")
                step = max(1, fps // max(target_fps, 1))
                wanted = set(range(0, meta["n_frames"], step))
                frames = R.avi_frames(data, wanted)
                # the synth-seed convention only applies when verifying
                # against the deterministic reference pixels; parsing it
                # eagerly would reject real-world video ids even with
                # verify=False
                vseed = int(vid.rsplit("_", 1)[-1]) if verify else 0
                for idx in sorted(frames):
                    px = P.decode_image(frames[idx], "jpeg")
                    h, w = px.shape[:2]
                    ok = True
                    if verify:
                        ref = P.synth_pixels(vseed * 1000 + idx, w, h)
                        ok = bool(P.psnr_db(ref, px) >= psnr_min)
                    rows["video_id"].append(vid)
                    rows["frame_idx"].append(idx)
                    rows["t_ms"].append(idx * 1000 // fps)
                    rows["w"].append(w)
                    rows["h"].append(h)
                    rows["pix_ok"].append(ok)
            yield pd.DataFrame(rows).astype(
                {"frame_idx": "int64", "t_ms": "int64",
                 "w": "int64", "h": "int64"})

    return videos.select("video_id", "bytes").mapInPandas(run, schema=schema)


def audio_features(audio: DataFrame) -> DataFrame:
    """Decode WAV PCM and extract waveform features.

    Output: audio_id, sample_rate, n_samples, duration_ms,
    peak (max |s|), zero_crossings (sign changes, zeros count as
    positive), sum_sq (sum of s^2, exact int64).  Every feature is pure
    integer arithmetic so a SQL oracle regenerating the PCM reproduces
    them bit-exactly with no cross-engine float canonicalization
    (RMS, if needed, is sqrt(sum_sq / n_samples) downstream).  16-bit
    PCM keeps sum_sq <= n * 2^30, far inside int64 for any real clip."""
    schema = ("audio_id string, sample_rate long, n_samples long,"
              " duration_ms long, peak long, zero_crossings long,"
              " sum_sq long")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("audio_id", "sample_rate", "n_samples", "duration_ms",
                     "peak", "zero_crossings", "sum_sq")}
            for aid, blob in zip(pdf["audio_id"], pdf["bytes"]):
                s, sr = R.decode_wav(bytes(blob))
                v = s.astype(np.int64)
                n = len(v)
                neg = v < 0
                rows["audio_id"].append(aid)
                rows["sample_rate"].append(sr)
                rows["n_samples"].append(n)
                rows["duration_ms"].append(n * 1000 // sr)
                rows["peak"].append(int(np.abs(v).max()) if n else 0)
                rows["zero_crossings"].append(
                    int((neg[1:] != neg[:-1]).sum()) if n > 1 else 0)
                rows["sum_sq"].append(int((v * v).sum()))
            yield pd.DataFrame(rows).astype(
                {"sample_rate": "int64", "n_samples": "int64",
                 "duration_ms": "int64", "peak": "int64",
                 "zero_crossings": "int64", "sum_sq": "int64"})

    return audio.select("audio_id", "bytes").mapInPandas(run, schema=schema)
