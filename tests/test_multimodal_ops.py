"""Multimodal decode-stage plumbing: frame-sampling mapInPandas
ops (extensions/multimodal.py). What these tests pin is the Spark-side
contract — schemas, 1:N row explosion bounds, and the gated real
decoders."""

import pytest

from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
    extract_features,
    sample_frames,
    synthetic_media,
)


def test_sample_frames_counts_and_stride(spark):
    media = synthetic_media(spark, n=30)
    out = sample_frames(media, every_ms=1000, max_frames=32)
    got = {}
    for r in out.collect():
        got.setdefault(r.media_id, []).append((r.frame_idx, r.ts_ms, bytes(r.frame)))
    # videos are i % 3 == 2 with duration 1000*(i%90)
    assert sorted(got) == [i for i in range(30) if i % 3 == 2]
    for mid, frames in got.items():
        n_expected = min((mid % 90) + 1, 32)
        frames.sort()
        assert [f[0] for f in frames] == list(range(n_expected))
        assert all(ts == idx * 1000 for idx, ts, _ in frames)
        assert all(len(fr) == 16 for _, _, fr in frames)


def test_sample_frames_cap(spark):
    media = synthetic_media(spark, n=120)  # durations up to 89 s
    out = sample_frames(media, every_ms=1000, max_frames=8)
    counts = out.groupBy("media_id").count().collect()
    assert max(r["count"] for r in counts) == 8


def test_real_decoder_paths_are_gated(spark):
    """Real decode EXISTS for PPM/WAV/PNG/baseline-JPEG and MJPEG-AVI
    frame sampling (test_multimodal_codecs / test_jpeg_codec pin values);
    what stays environment-gated raises inside the worker: real-mode
    frame sampling over a non-AVI container (MP4 needs ffmpeg) and
    real-mode feature extraction over a payload it can't decode."""
    from source_flink_cdc_3_5_0_spark.extensions.multimodal import MEDIA_SCHEMA
    mp4 = spark.createDataFrame(
        [(1, "video", bytearray(b"\x00\x00\x00 ftypmp42 opaque"),
          "video/mp4", None, None, 1000)], MEDIA_SCHEMA)
    with pytest.raises(Exception):
        sample_frames(mp4, use_fake_decoder=False).collect()
    truncated_jpeg = spark.createDataFrame(
        [(1, "image", bytearray(b"\xff\xd8\xff jpeg-ish"), "image/jpeg",
          2, 2, None)], MEDIA_SCHEMA)
    with pytest.raises(Exception):
        extract_features(truncated_jpeg, use_fake_decoder=False).collect()


class TestMp4FfmpegPath:
    def test_probe_rejects_non_mp4_and_missing_ffmpeg(self, monkeypatch):
        """Driver-side contract of the MP4 decoder: a non-ISO-BMFF
        payload is rejected before any subprocess, and with no ffmpeg
        detected the decoder returns None (sample_frames then falls back
        under 'auto' / raises under 'real')."""
        from source_flink_cdc_3_5_0_spark.extensions import multimodal as M

        assert M._decode_mp4_frames(b"RIFF not an mp4", 1000, 4) is None
        monkeypatch.setattr(M, "_FFMPEG", "")  # force "none detected"
        assert M._decode_mp4_frames(
            b"\x00\x00\x00 ftypmp42 opaque", 1000, 4) is None

    def test_env_override_disables_detection(self, monkeypatch):
        from source_flink_cdc_3_5_0_spark.extensions import multimodal as M

        monkeypatch.setattr(M, "_FFMPEG", None)
        monkeypatch.setenv("SPARK_GRAFT_FFMPEG", "")
        assert M._ffmpeg_path() is None

    @pytest.mark.skipif(
        __import__("shutil").which("ffmpeg") is None,
        reason="needs a system ffmpeg (env-gated real-decode test)")
    def test_real_mp4_decode_with_detected_ffmpeg(self, spark, tmp_path):
        """Where ffmpeg exists: a real MP4 (generated by that same
        ffmpeg) samples REAL frames — P6 PPM bytes our own codec can
        decode — through the ordinary sample_frames Spark path."""
        import shutil
        import subprocess

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, _decode_ppm)

        mp4_path = str(tmp_path / "t.mp4")
        subprocess.run(
            [shutil.which("ffmpeg"), "-v", "error", "-f", "lavfi",
             "-i", "testsrc=duration=3:size=64x48:rate=10",
             "-pix_fmt", "yuv420p", mp4_path],
            check=True, capture_output=True, timeout=120)
        with open(mp4_path, "rb") as f:
            payload = bytearray(f.read())
        media = spark.createDataFrame(
            [(7, "video", payload, "video/mp4", 64, 48, 3000)],
            MEDIA_SCHEMA)
        rows = sample_frames(media, every_ms=1000, max_frames=8,
                             use_fake_decoder=False).collect()
        assert len(rows) == 3
        for r in sorted(rows, key=lambda r: r.frame_idx):
            arr = _decode_ppm(bytes(r.frame))
            assert arr is not None and arr.shape == (48, 64, 3)


class TestFrameAudioEnergy:
    def _wav(self, samples):
        import io
        import wave

        import numpy as np
        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(1)
            f.setsampwidth(2)
            f.setframerate(8000)
            f.writeframes(np.asarray(samples, dtype="<i2").tobytes())
        return bytearray(buf.getvalue())

    def _media(self, spark, rows):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import MEDIA_SCHEMA
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_exact_frames(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            frame_audio_energy)
        # 8 samples, frame 4 hop 2 -> frames at 0,2,4
        x = [1, -2, 3, -4, 5, -6, 7, -8]
        media = self._media(spark, [
            (1, "audio", self._wav(x), "audio/wav", None, None, 1)])
        rows = sorted(frame_audio_energy(media, frame_len=4, hop=2).collect())
        assert [(r.frame_idx, r.energy, r.peak) for r in rows] == [
            (0, 1 + 4 + 9 + 16, 4),
            (1, 9 + 16 + 25 + 36, 6),
            (2, 25 + 36 + 49 + 64, 8),
        ]
        assert all(r.n_samples == 4 for r in rows)

    def test_non_audio_and_undecodable_skipped(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            frame_audio_energy)
        media = self._media(spark, [
            (1, "image", bytearray(b"P6 garbage"), "x", 4, 4, None),
            (2, "audio", bytearray(b"not a riff"), "x", None, None, 1),
            (3, "audio", None, "x", None, None, 1),
            (4, "audio", self._wav([100] * 4), "audio/wav", None, None, 1),
        ])
        rows = frame_audio_energy(media, frame_len=4, hop=4).collect()
        assert [r.media_id for r in rows] == [4]
        assert rows[0].energy == 4 * 100 * 100

    def test_kind_filter_is_jvm_side(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            frame_audio_energy)
        plan = frame_audio_energy(synthetic_media(spark, n=9)) \
            ._jdf.queryExecution().executedPlan().toString()
        assert plan.find("Filter") > plan.find("MapInPandas") != -1


class TestImageAhash:
    def _ppm_media(self, spark, arrays):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, _encode_ppm)
        rows = [(i, "image", bytearray(_encode_ppm(np.asarray(a, dtype=np.uint8))),
                 "image/x-portable-pixmap", None, None, None)
                for i, a in enumerate(arrays)]
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_brightness_invariance(self, spark):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import image_ahash
        rng = np.random.RandomState(7)
        base = rng.randint(0, 200, size=(8, 8, 3))
        media = self._ppm_media(spark, [base, base + 17, base + 55])
        hashes = {r.media_id: r.ahash_bits for r in image_ahash(media).collect()}
        assert len(hashes) == 3
        assert hashes[0] == hashes[1] == hashes[2]
        assert set(hashes[0]) <= {"0", "1"} and len(hashes[0]) == 64

    def test_different_patterns_differ(self, spark):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import image_ahash
        rng = np.random.RandomState(11)
        a = rng.randint(0, 255, size=(8, 8, 3))
        b = rng.randint(0, 255, size=(8, 8, 3))
        hashes = {r.media_id: r.ahash_bits
                  for r in image_ahash(self._ppm_media(spark, [a, b])).collect()}
        assert hashes[0] != hashes[1]

    def test_pooling_matches_downscaled_image(self, spark):
        """A 16x16 image whose 2x2 blocks are constant must hash like the
        8x8 image of block values (integer average-pool exactness)."""
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import image_ahash
        rng = np.random.RandomState(3)
        small = rng.randint(0, 255, size=(8, 8, 3))
        big = np.repeat(np.repeat(small, 2, axis=0), 2, axis=1)
        hashes = {r.media_id: r.ahash_bits
                  for r in image_ahash(self._ppm_media(spark, [small, big])).collect()}
        assert hashes[0] == hashes[1]

    def test_undecodable_and_tiny_skipped(self, spark):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, image_ahash)
        rows = [(1, "image", bytearray(b"JFIF..."), "image/jpeg", None, None, None),
                (2, "image", None, "x", None, None, None)]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        tiny = self._ppm_media(spark, [np.zeros((4, 4, 3))])  # < 8x8 grid
        assert image_ahash(media).count() == 0
        assert image_ahash(tiny).count() == 0
