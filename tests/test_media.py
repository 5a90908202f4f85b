"""Video/audio multimodal operators (kernels/riff.py, operators/media.py).

Both codecs are real: WAV round-trips bit-exact, AVI frames are genuine
baseline-JFIF images; the operator tests verify the Spark plumbing
(schema, mapInPandas batch shape) AND the decoded values against
closed-form references.
"""

import numpy as np
import pytest

from tilemaker_spark.kernels import png as P
from tilemaker_spark.kernels import riff as R


def test_wav_roundtrip_exact():
    rng = np.random.default_rng(11)
    for n in (1, 7, 4096, 12345):   # odd lengths exercise the pad byte
        s = rng.integers(-32768, 32768, n).astype(np.int16)
        got, sr = R.decode_wav(R.encode_wav(s, 8000))
        assert sr == 8000
        assert np.array_equal(got, s)


def test_wav_rejects_non_pcm():
    blob = bytearray(R.encode_wav(np.zeros(4, np.int16), 8000))
    blob[20] = 3   # wFormatTag -> IEEE float
    with pytest.raises(ValueError):
        R.decode_wav(bytes(blob))


def test_avi_mjpeg_roundtrip():
    frames = [P.encode_jpeg(P.synth_pixels(j, 24, 16)) for j in range(7)]
    avi = R.encode_avi_mjpeg(frames, 15, 24, 16)
    meta = R.decode_avi_header(avi)
    assert meta == {"n_frames": 7, "fps": 15, "w": 24, "h": 16,
                    "codec": "MJPG"}
    got = R.avi_frames(avi)
    assert sorted(got) == list(range(7))
    assert all(got[i] == frames[i] for i in range(7))
    # selective extraction slices only the wanted payloads
    sub = R.avi_frames(avi, {1, 5})
    assert set(sub) == {1, 5} and sub[5] == frames[5]
    # the frames decode as real JFIF and meet the PSNR invariant
    px = P.decode_image(got[3], "jpeg")
    assert P.psnr_db(P.synth_pixels(3, 24, 16), px) >= 40.0


def test_avi_single_and_empty():
    one = R.encode_avi_mjpeg([P.encode_jpeg(P.synth_pixels(0, 16, 16))],
                             10, 16, 16)
    assert R.decode_avi_header(one)["n_frames"] == 1
    assert len(R.avi_frames(one)) == 1
    empty = R.encode_avi_mjpeg([], 10, 16, 16)
    assert R.decode_avi_header(empty)["n_frames"] == 0
    assert R.avi_frames(empty) == {}


def test_synth_audio_sql_twin_formula():
    v = R.synth_audio_samples(42, 50)
    ref = [((42 * 1103515245 + j * 12345 + 6789) % 2147483648) % 4096 - 2048
           for j in range(50)]
    assert v.dtype == np.int16 and list(v) == ref


try:
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.integers(-32768, 32767), min_size=0, max_size=2000),
           st.sampled_from([8000, 16000, 44100]))
    def test_wav_roundtrip_property(samples, sr):
        s = np.asarray(samples, dtype=np.int16)
        got, got_sr = R.decode_wav(R.encode_wav(s, sr))
        assert got_sr == sr and np.array_equal(got, s)

    @settings(max_examples=10, deadline=None)
    @given(st.lists(st.binary(min_size=0, max_size=400),
                    min_size=0, max_size=12),
           st.integers(1, 60), st.integers(1, 256), st.integers(1, 256))
    def test_avi_container_roundtrip_property(frames, fps, w, h):
        # container round-trip is payload-agnostic (any bytes mux/demux
        # losslessly; JPEG validity is only a decode-time concern)
        avi = R.encode_avi_mjpeg(frames, fps, w, h)
        meta = R.decode_avi_header(avi)
        assert (meta["n_frames"], meta["fps"], meta["w"], meta["h"]) == (
            len(frames), fps, w, h)
        got = R.avi_frames(avi)
        assert [got[i] for i in range(len(frames))] == frames
except ImportError:   # pragma: no cover - hypothesis is baked in here
    pass


def test_sample_frames_strides_each_video(spark):
    from tilemaker_spark.operators import media
    from tilemaker_spark.sources import synth

    v = synth.videos_df(spark, 12, partitions=4)
    rows = media.sample_frames(v, target_fps=5).collect()
    assert all(r["pix_ok"] for r in rows)
    by_vid: dict = {}
    for r in rows:
        by_vid.setdefault(r["video_id"], []).append(r)
    for i in range(12):
        fps = 10 + (i % 3) * 5
        nf = 8 + (i % 5) * 4
        step = fps // 5
        expect = list(range(0, nf, step))
        got = sorted(by_vid[f"vid_{i}"], key=lambda r: r["frame_idx"])
        assert [r["frame_idx"] for r in got] == expect
        assert [r["t_ms"] for r in got] == [j * 1000 // fps for j in expect]
        assert all(r["w"] == 16 + (i % 3) * 8 for r in got)


def test_sample_frames_step_clamps_to_one(spark):
    from tilemaker_spark.operators import media
    from tilemaker_spark.sources import synth

    v = synth.videos_df(spark, 3, partitions=1)
    rows = media.sample_frames(v, target_fps=1000).collect()
    # step = max(1, fps // 1000) = 1 -> every frame sampled
    counts = {}
    for r in rows:
        counts[r["video_id"]] = counts.get(r["video_id"], 0) + 1
    assert counts == {f"vid_{i}": 8 + (i % 5) * 4 for i in range(3)}


def test_audio_features_match_numpy(spark):
    from tilemaker_spark.operators import media
    from tilemaker_spark.sources import synth

    a = synth.audio_df(spark, 20, partitions=4)
    got = {r["audio_id"]: r for r in media.audio_features(a).collect()}
    assert len(got) == 20
    for i in range(20):
        n = 4000 + (i % 7) * 1000
        s = R.synth_audio_samples(i, n).astype(np.int64)
        r = got[f"aud_{i}"]
        assert r["sample_rate"] == 8000
        assert r["n_samples"] == n
        assert r["duration_ms"] == n * 1000 // 8000
        assert r["peak"] == int(np.abs(s).max())
        neg = s < 0
        assert r["zero_crossings"] == int((neg[1:] != neg[:-1]).sum())
        assert r["sum_sq"] == int((s.astype(np.int64) ** 2).sum())
