"""Baseline JPEG codec (extensions/jpeg.py) — pure numpy/stdlib."""

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from source_flink_cdc_3_5_0_spark.extensions.jpeg import (
    decode_jpeg, encode_jpeg)


def _psnr(a, b):
    mse = ((a.astype(float) - b.astype(float)) ** 2).mean()
    return 99.0 if mse == 0 else 10 * np.log10(255 ** 2 / mse)


class TestRoundTrip:
    def test_solid_color_dc_exact(self, *_):
        img = np.full((16, 16, 3), 128, np.uint8)
        out = decode_jpeg(encode_jpeg(img, 90))
        assert out.shape == (16, 16, 3)
        assert (out == 128).all()

    def test_color_gradient_psnr(self):
        rr, cc = np.meshgrid(np.arange(24), np.arange(33), indexing="ij")
        img = np.stack([(rr * 10) % 256, (cc * 7) % 256,
                        ((rr + cc) * 5) % 256], axis=2).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, 90))
        assert out.shape == img.shape
        assert _psnr(img, out) > 35

    def test_smooth_image_high_fidelity(self):
        x, y = np.meshgrid(np.arange(40), np.arange(32))
        img = np.stack([np.sin(x / 8) * 60 + 128, np.cos(y / 9) * 60 + 128,
                        ((x + y) * 2) % 256], axis=2).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(img, 90))
        assert _psnr(img, out) > 40

    def test_grayscale(self):
        x, y = np.meshgrid(np.arange(40), np.arange(32))
        g = ((x * 3 + y * 2) % 256).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(g, 85))
        assert out.shape == (32, 40, 3)
        # all three channels replicate the gray plane
        assert (out[:, :, 0] == out[:, :, 1]).all()
        assert _psnr(np.repeat(g[:, :, None], 3, 2), out) > 35

    def test_non_multiple_of_8_dims(self):
        img = np.full((9, 13, 3), 200, np.uint8)
        out = decode_jpeg(encode_jpeg(img, 90))
        assert out.shape == (9, 13, 3)
        assert abs(int(out.mean()) - 200) <= 1

    def test_quality_monotone(self):
        rng = np.random.RandomState(5)
        img = rng.randint(0, 255, (16, 16, 3)).astype(np.uint8)
        lo = decode_jpeg(encode_jpeg(img, 20))
        hi = decode_jpeg(encode_jpeg(img, 95))
        assert _psnr(img, hi) > _psnr(img, lo)


class TestRobustness:
    def test_non_jpeg_rejected(self):
        assert decode_jpeg(b"hello world") is None
        assert decode_jpeg(b"\x89PNG\r\n\x1a\n") is None
        assert decode_jpeg(b"") is None

    def test_truncations_never_raise(self):
        payload = encode_jpeg(np.full((16, 16, 3), 77, np.uint8), 80)
        for cut in range(0, len(payload), 7):
            decode_jpeg(payload[:cut])    # None or partial, never raises

    @settings(max_examples=30, deadline=None)
    @given(st.binary(min_size=0, max_size=200))
    def test_fuzz_arbitrary_bytes_never_raise(self, data):
        decode_jpeg(b"\xFF\xD8" + data)

    @settings(max_examples=15, deadline=None)
    @given(st.integers(0, 400), st.integers(0, 255))
    def test_fuzz_corrupted_stream_never_raises(self, pos, val):
        payload = bytearray(encode_jpeg(np.full((8, 8, 3), 90, np.uint8), 80))
        if pos < len(payload):
            payload[pos] = val
        decode_jpeg(bytes(payload))


class TestIntegration:
    def test_real_decoder_path_extracts_features(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, extract_features)
        img = np.full((8, 8, 3), 64, np.uint8)
        rows = [(1, "image", bytearray(encode_jpeg(img, 90)), "image/jpeg",
                 8, 8, None)]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        feats = extract_features(media, decoder="real").collect()
        assert len(feats) == 1
        # solid 64-gray image: every 4x4 block mean is 64/255
        for v in feats[0].feature:
            assert abs(v - 64 / 255) < 0.02


class TestAviMjpeg:
    def _avi(self, n_frames=6, fps=10):
        frames = [encode_jpeg(np.full((8, 8, 3), 30 * i % 256, np.uint8), 85)
                  for i in range(n_frames)]
        from source_flink_cdc_3_5_0_spark.extensions.avi import mux_avi_mjpeg
        return frames, mux_avi_mjpeg(frames, fps=fps)

    def test_mux_demux_roundtrip(self):
        from source_flink_cdc_3_5_0_spark.extensions.avi import demux_avi_mjpeg
        frames, payload = self._avi(6, fps=10)
        us, got = demux_avi_mjpeg(payload)
        assert us == 100_000 and got == frames

    def test_demux_rejects_garbage(self):
        from source_flink_cdc_3_5_0_spark.extensions.avi import demux_avi_mjpeg
        assert demux_avi_mjpeg(b"RIFFxxxxWAVE") is None
        assert demux_avi_mjpeg(b"not riff at all") is None
        # truncated container never raises
        _, payload = self._avi(3)
        for cut in range(0, len(payload), 11):
            demux_avi_mjpeg(payload[:cut])

    @settings(max_examples=20, deadline=None)
    @given(st.binary(max_size=120))
    def test_demux_fuzz_never_raises(self, data):
        from source_flink_cdc_3_5_0_spark.extensions.avi import demux_avi_mjpeg
        demux_avi_mjpeg(b"RIFF" + data)

    def test_real_frame_sampling_end_to_end(self, spark):
        """AVI demux -> timestamp sampling -> each sampled frame is a
        REAL decodable JPEG of the right solid color."""
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, sample_frames)
        frames, payload = self._avi(10, fps=10)   # 100 ms per frame, 1 s
        rows = [(7, "video", bytearray(payload), "video/x-msvideo",
                 None, None, 999_999)]            # duration metadata ignored
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = sorted(sample_frames(media, every_ms=300, decoder="real")
                     .collect(), key=lambda r: r.frame_idx)
        # t = 0, 300, 600, 900 ms -> frame indices 0, 3, 6, 9
        assert [r.ts_ms for r in got] == [0, 300, 600, 900]
        for r, fi in zip(got, [0, 3, 6, 9]):
            img = decode_jpeg(bytes(r.frame))
            assert img is not None
            assert abs(int(img.mean()) - (30 * fi % 256)) <= 2

    def test_real_mode_rejects_non_avi_auto_falls_back(self, spark):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, sample_frames)
        rows = [(1, "video", bytearray(b"opaque-not-avi"), "video/mp4",
                 None, None, 2000)]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        with pytest.raises(Exception):
            sample_frames(media, decoder="real").collect()
        auto = sample_frames(media, every_ms=1000, decoder="auto").collect()
        assert len(auto) == 3   # fake path: duration 2000 -> t=0,1000,2000


class TestJpegResizeAndAhash:
    def test_ahash_brightness_invariance_across_jpeg(self, spark):
        """A brightness-shifted JPEG re-encode hashes like the original —
        the perceptual-dedup story across a LOSSY codec (quantization
        noise < the 1-bit threshold margin on a high-contrast pattern)."""
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, image_ahash)
        rr, cc = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
        base = ((rr + cc) % 2 * 180 + 20).astype(np.uint8)   # checkerboard
        img = np.repeat(base[:, :, None], 3, axis=2)
        rows = [
            (1, "image", bytearray(encode_jpeg(img, 95)), "image/jpeg",
             8, 8, None),
            (2, "image", bytearray(encode_jpeg(
                np.clip(img.astype(int) + 40, 0, 255).astype(np.uint8), 95)),
             "image/jpeg", 8, 8, None),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        hashes = {r.media_id: r.ahash_bits for r in image_ahash(media).collect()}
        assert hashes[1] == hashes[2]


class TestHeaderProbe:
    def test_all_formats(self):
        import io
        import wave

        from source_flink_cdc_3_5_0_spark.extensions.avi import mux_avi_mjpeg
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _encode_png, _encode_ppm, probe_format_and_dims)
        img = np.zeros((5, 9, 3), np.uint8)
        assert probe_format_and_dims(_encode_ppm(img)) == ("ppm", 9, 5)
        assert probe_format_and_dims(_encode_png(img)) == ("png", 9, 5)
        assert probe_format_and_dims(encode_jpeg(img)) == ("jpeg", 9, 5)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as f:
            f.setnchannels(1); f.setsampwidth(2); f.setframerate(8000)
            f.writeframes(b"\x00\x00")
        assert probe_format_and_dims(buf.getvalue()) == ("wav", None, None)
        assert probe_format_and_dims(b"garbage bytes") is None
        # probing must NOT require a decodable stream: truncate the JPEG
        # right after its headers (entropy data gone) - dims still probe
        j = encode_jpeg(img)
        sos = j.find(b"\xFF\xDA")
        assert probe_format_and_dims(j[:sos]) == ("jpeg", 9, 5)

    @settings(max_examples=25, deadline=None)
    @given(st.binary(max_size=100))
    def test_probe_fuzz_never_raises(self, data):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            probe_format_and_dims)
        for prefix in (b"", b"P6", b"\xFF\xD8", b"RIFF"):
            probe_format_and_dims(prefix + data)


class TestReviewRegressions:
    def test_bitreader_restart_alignment_unbuffered_marker(self):
        """RST not yet swallowed by the read-ahead (interval length a
        multiple of 4 bytes) must still be consumed by align_restart."""
        from source_flink_cdc_3_5_0_spark.extensions.jpeg import _BitReader
        r = _BitReader(b"\x11\x22\x33\x44\xFF\xD0\xBB\xCC", 0)
        assert r.read_bits(32) == 0x11223344
        r.align_restart()
        assert r.read_bits(8) == 0xBB

    def test_restart_marker_roundtrip(self):
        """Real DRI/RSTn streams decode correctly (encoder now emits
        them): every restart interval's DC chain restarts from 0."""
        rng = np.random.RandomState(9)
        img = rng.randint(0, 255, (24, 40, 3)).astype(np.uint8)
        plain = decode_jpeg(encode_jpeg(img, 90))
        for interval in (1, 2, 3, 7):
            with_rst = decode_jpeg(encode_jpeg(img, 90,
                                               restart_interval=interval))
            assert with_rst is not None, interval
            # same quantization -> bit-identical pixels either way
            assert (with_rst == plain).all(), interval

    def test_fill_bytes_before_marker(self):
        """0xFF padding before a marker (T.81 B.1.1.2) must not derail
        the segment walk — for decode OR the header-only dims probe."""
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            probe_format_and_dims)
        img = np.full((8, 8, 3), 120, np.uint8)
        j = encode_jpeg(img, 90)
        dqt = j.find(b"\xFF\xDB")
        padded = j[:dqt] + b"\xFF\xFF\xFF" + j[dqt:]
        out = decode_jpeg(padded)
        assert out is not None and (out == 120).all()
        assert probe_format_and_dims(padded) == ("jpeg", 8, 8)

    def test_truncated_avi_returns_none(self):
        """Intact chunk headers + truncated body must not yield silently
        short frame bytes."""
        from source_flink_cdc_3_5_0_spark.extensions.avi import (
            demux_avi_mjpeg, mux_avi_mjpeg)
        frames = [encode_jpeg(np.full((8, 8, 3), 50, np.uint8), 85)
                  for _ in range(3)]
        payload = mux_avi_mjpeg(frames, fps=10)
        cut = payload[:len(payload) - len(frames[-1]) // 2]
        assert demux_avi_mjpeg(cut) is None

    def test_ppm_probe_long_comment_header(self):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            probe_format_and_dims)
        banner = b"# " + b"x" * 100 + b"\n"
        ppm = b"P6\n" + banner + b"640 480\n255\n" + b"\x00" * (640 * 480 * 3)
        assert probe_format_and_dims(ppm) == ("ppm", 640, 480)


class TestSecondReviewRegressions:
    def test_probe_fill_run_and_truncated_sof_never_raise(self):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            probe_format_and_dims)
        assert probe_format_and_dims(b"\xFF\xD8" + b"\xFF" * 9) is None
        assert probe_format_and_dims(
            b"\xFF\xD8\xFF\xFF\xC0" + b"\x00" * 6) is None

    def test_probe_insane_dims_rejected(self, spark):
        """A crafted header claiming width 4e9 must probe as corrupt AND
        must not crash the Arrow batch in probe_media (Int32 schema)."""
        import struct as _s

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            MEDIA_SCHEMA, _PNG_SIG, probe_format_and_dims, probe_media)
        ihdr = _s.pack(">II", 4_000_000_000, 5) + b"\x08\x02\x00\x00\x00"
        bad_png = (_PNG_SIG + _s.pack(">I", len(ihdr)) + b"IHDR" + ihdr
                   + b"\x00" * 8)
        assert probe_format_and_dims(bad_png) is None
        assert probe_format_and_dims(b"P6 99999999999 5 255\n") is None
        media = spark.createDataFrame(
            [(1, "image", bytearray(bad_png), "image/png", None, None, None)],
            MEDIA_SCHEMA)
        rows = probe_media(media).collect()
        assert rows[0].format is None

    def test_reconcile_null_fields_distinguished(self, spark):
        """The digest must distinguish WHICH field is null (concat_ws
        alone skips nulls and collides)."""
        import pyspark.sql.functions as F
        fields = [F.col("x"), F.col("y")]
        nullmap = F.concat(*[F.when(f.isNull(), F.lit("1"))
                             .otherwise(F.lit("0")) for f in fields])
        digest = F.md5(F.concat_ws(
            "|", nullmap, *[F.coalesce(f, F.lit("")) for f in fields]))
        df = spark.createDataFrame(
            [("a", None), (None, "a"), ("a", ""), ("", "a")],
            "x STRING, y STRING")
        got = [r[0] for r in df.select(digest).collect()]
        assert len(set(got)) == 4


class TestProgressive:
    """Progressive (SOF2) decode — successive approximation on DC and AC,
    spectral-selection scans, cross-block EOB runs.  The progressive
    encoder produces the SAME quantized coefficients as the baseline
    encoder, so decode(progressive) must equal decode(baseline) EXACTLY
    (array equality, not PSNR)."""

    def _both(self, img, quality=85):
        from source_flink_cdc_3_5_0_spark.extensions.jpeg import (
            encode_jpeg_progressive,
        )

        base = decode_jpeg(encode_jpeg(img, quality=quality))
        prog = decode_jpeg(encode_jpeg_progressive(img, quality=quality))
        return base, prog

    def test_bit_identical_to_baseline_color(self):
        rs = np.random.RandomState(5)
        for shape, q in [((24, 17, 3), 85), ((9, 31, 3), 95),
                         ((8, 8, 3), 50), ((40, 40, 3), 30)]:
            img = rs.randint(0, 256, size=shape, dtype="uint8")
            base, prog = self._both(img, q)
            assert prog is not None
            assert np.array_equal(base, prog), (shape, q)

    def test_bit_identical_grayscale(self):
        rs = np.random.RandomState(6)
        for shape in [(16, 16), (33, 21), (7, 50)]:
            img = rs.randint(0, 256, size=shape, dtype="uint8")
            base, prog = self._both(img)
            assert np.array_equal(base, prog), shape

    def test_solid_and_gradient_heavy_eob_runs(self):
        """Smooth images quantize to almost-all-zero AC — maximal
        cross-block EOB runs on both first and refinement scans."""
        solid = np.full((48, 32, 3), 77, dtype="uint8")
        base, prog = self._both(solid)
        assert np.array_equal(base, prog)
        x = np.linspace(0, 255, 64)
        grad = np.repeat(x[None, :], 40, axis=0).astype("uint8")
        base, prog = self._both(grad)
        assert np.array_equal(base, prog)

    def test_progressive_truncations_never_raise(self):
        from source_flink_cdc_3_5_0_spark.extensions.jpeg import (
            encode_jpeg_progressive,
        )

        img = np.random.RandomState(7).randint(
            0, 256, size=(16, 16, 3), dtype="uint8")
        full = encode_jpeg_progressive(img)
        for cut in range(0, len(full), 97):
            out = decode_jpeg(full[:cut])
            assert out is None or out.shape == (16, 16, 3)

    @settings(max_examples=40, deadline=None)
    @given(pos=st.integers(0, 1000), val=st.integers(0, 255))
    def test_progressive_corruption_never_raises(self, pos, val):
        from source_flink_cdc_3_5_0_spark.extensions.jpeg import (
            encode_jpeg_progressive,
        )

        img = np.arange(16 * 16 * 3, dtype="uint8").reshape(16, 16, 3)
        full = bytearray(encode_jpeg_progressive(img))
        full[pos % len(full)] = val
        out = decode_jpeg(bytes(full))
        assert out is None or (out.ndim == 3 and out.shape[2] == 3)

    def test_probe_reads_sof2_dims(self):
        from source_flink_cdc_3_5_0_spark.extensions.jpeg import (
            encode_jpeg_progressive,
        )
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            probe_format_and_dims,
        )

        img = np.zeros((12, 34, 3), dtype="uint8")
        fmt, w, h = probe_format_and_dims(encode_jpeg_progressive(img))
        assert (fmt, w, h) == ("jpeg", 34, 12)
