"""Real multimodal codecs (no PIL/ffmpeg): PPM image + 16-bit-PCM WAV
decode with EXACT expected values, and the auto-fallback contract for
unparseable formats."""

import io
import wave

import numpy as np
import pytest

from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
    MEDIA_SCHEMA,
    _decode_ppm,
    _decode_wav,
    _encode_ppm,
    extract_features,
)


def make_ppm(w, h, fn):
    arr = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            arr[y, x] = fn(x, y)
    return _encode_ppm(arr), arr


def make_wav(samples, rate=8000):
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def test_ppm_roundtrip_and_comment_header():
    payload, arr = make_ppm(6, 4, lambda x, y: (x * 40, y * 60, 7))
    got = _decode_ppm(payload)
    assert got is not None and np.array_equal(got, arr)
    commented = payload.replace(b"P6\n", b"P6\n# a comment\n", 1)
    assert np.array_equal(_decode_ppm(commented), arr)
    assert _decode_ppm(b"JFIF...") is None
    assert _decode_ppm(b"P6\n2 2\n255\nshort") is None  # truncated raster


def test_wav_decode_exact_samples():
    samples = [0, 16384, -16384, 32767]
    x = _decode_wav(make_wav(samples))
    assert x is not None
    assert np.allclose(x, np.array(samples) / 32768.0)
    assert _decode_wav(b"OggS....") is None


def test_real_image_features_exact(spark):
    """A 4x4 image with known grayscale values: the 4x4 block-mean grid IS
    the pixels — features must equal gray/255 exactly."""
    arr = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    payload = _encode_ppm(arr)
    gray = arr.astype(np.float64).mean(axis=2) / 255.0
    df = spark.createDataFrame(
        [(1, "image", bytearray(payload), "image/x-portable-pixmap",
          4, 4, None)], MEDIA_SCHEMA)
    row = extract_features(df, decoder="real").collect()[0]
    assert row["n_bytes"] == len(payload)
    assert np.allclose(row["feature"], gray.flatten(), atol=1e-6)


def test_real_audio_features_exact(spark):
    """Constant-amplitude PCM: every segment RMS equals |amplitude|/32768."""
    amp = 12288
    payload = make_wav([amp] * 160)
    df = spark.createDataFrame(
        [(2, "audio", bytearray(payload), "audio/wav", None, None, 20)],
        MEDIA_SCHEMA)
    row = extract_features(df, decoder="real").collect()[0]
    assert np.allclose(row["feature"], [amp / 32768.0] * 16, atol=1e-6)


def test_auto_falls_back_fake_real_raises(spark):
    opaque = b"\x89PNG\r\n\x1a\n not actually decodable here"
    df = spark.createDataFrame(
        [(4, "image", bytearray(opaque), "image/png", 1, 1, None)],
        MEDIA_SCHEMA)
    auto = extract_features(df, decoder="auto").collect()[0]
    fake = extract_features(df, decoder="fake").collect()[0]
    assert auto["feature"] == fake["feature"]  # documented fallback
    with pytest.raises(Exception):  # NotImplementedError inside the worker
        extract_features(df, decoder="real").collect()


def test_mixed_corpus_auto_decodes_parseable_rows(spark):
    ppm, arr = make_ppm(4, 4, lambda x, y: (100, 100, 100))
    rows = [
        (10, "image", bytearray(ppm), "image/x-portable-pixmap", 4, 4, None),
        (11, "audio", bytearray(make_wav([0] * 64)), "audio/wav", None, None, 8),
        (12, "video", bytearray(b"opaque-bytes"), "video/mp4", None, None, 900),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r["feature"]
           for r in extract_features(df, decoder="auto").collect()}
    assert np.allclose(got[10], [100 / 255.0] * 16, atol=1e-6)
    assert np.allclose(got[11], [0.0] * 16)
    assert len(got[12]) == 16  # fake fallback, still 16-dim


class TestPngCodec:
    def _img(self):
        import numpy as np

        rng = np.random.RandomState(11)
        return rng.randint(0, 256, size=(13, 9, 3), dtype="uint8")

    def test_roundtrip_every_filter_type(self):
        """Encode with each of the five PNG scanline filters, decode must
        reproduce the exact pixels — covers every unfilter path against
        ground truth without an external encoder."""
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _decode_png, _encode_png)

        img = self._img()
        for ft in range(5):
            payload = _encode_png(img, filter_type=ft)
            got = _decode_png(payload)
            assert got is not None and np.array_equal(got, img), ft

    def test_gray_and_rgba_variants(self):
        """Hand-built gray (ctype 0) and RGBA (ctype 6) payloads decode
        to 3-channel arrays (gray replicated, alpha dropped)."""
        import zlib

        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _PNG_SIG, _decode_png, _png_chunk)

        def build(arr, ctype):
            h, w = arr.shape[:2]
            ch = 1 if arr.ndim == 2 else arr.shape[2]
            flat = arr.reshape(h, w * ch)
            raw = b"".join(b"\x00" + flat[y].tobytes() for y in range(h))
            ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                    + bytes([8, ctype, 0, 0, 0]))
            return (_PNG_SIG + _png_chunk(b"IHDR", ihdr)
                    + _png_chunk(b"IDAT", zlib.compress(raw))
                    + _png_chunk(b"IEND", b""))

        gray = np.arange(12, dtype="uint8").reshape(3, 4)
        g = _decode_png(build(gray, 0))
        assert g.shape == (3, 4, 3)
        assert np.array_equal(g[:, :, 0], gray)
        assert np.array_equal(g[:, :, 0], g[:, :, 2])
        rgba = np.random.RandomState(3).randint(
            0, 256, size=(4, 5, 4), dtype="uint8")
        r = _decode_png(build(rgba, 6))
        assert r.shape == (4, 5, 3)
        assert np.array_equal(r, rgba[:, :, :3])

    def test_unsupported_and_garbage_return_none(self):
        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _decode_png, _encode_png)

        assert _decode_png(b"not a png") is None
        # corrupt the IDAT of a valid png
        good = _encode_png(self._img())
        assert _decode_png(good[:40] + b"\x00" * 20) is None

    @staticmethod
    def _build(raw, w, h, depth, ctype, interlace=0, plte=None):
        import zlib

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _PNG_SIG, _png_chunk)

        ihdr = (w.to_bytes(4, "big") + h.to_bytes(4, "big")
                + bytes([depth, ctype, 0, 0, interlace]))
        out = _PNG_SIG + _png_chunk(b"IHDR", ihdr)
        if plte is not None:
            out += _png_chunk(b"PLTE", plte)
        return (out + _png_chunk(b"IDAT", zlib.compress(raw))
                + _png_chunk(b"IEND", b""))

    def test_palette_8bit(self):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import \
            _decode_png

        pal = np.random.RandomState(7).randint(
            0, 256, size=(5, 3), dtype="uint8")
        idx = np.array([[0, 1, 2, 3], [4, 3, 2, 1], [1, 1, 0, 4]],
                       dtype="uint8")
        raw = b"".join(b"\x00" + idx[y].tobytes() for y in range(3))
        got = _decode_png(self._build(raw, 4, 3, 8, 3,
                                      plte=pal.tobytes()))
        assert got is not None and np.array_equal(got, pal[idx])
        # out-of-range index -> broken input, None
        bad = b"".join(b"\x00" + bytes([9] * 4) for _ in range(3))
        assert _decode_png(self._build(bad, 4, 3, 8, 3,
                                       plte=pal.tobytes())) is None

    def test_palette_4bit_packed(self):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import \
            _decode_png

        pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]],
                       dtype="uint8")
        idx = np.array([[0, 1, 2], [2, 1, 0]], dtype="uint8")
        rows = []
        for y in range(2):
            # 3 4-bit indices -> 2 bytes, MSB-first, pad last nibble
            b0 = (idx[y, 0] << 4) | idx[y, 1]
            b1 = idx[y, 2] << 4
            rows.append(b"\x00" + bytes([b0, b1]))
        got = _decode_png(self._build(b"".join(rows), 3, 2, 4, 3,
                                      plte=pal.tobytes()))
        assert got is not None and np.array_equal(got, pal[idx])

    def test_gray_1bit_scaled(self):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import \
            _decode_png

        # 10 pixels/row -> 2 bytes packed MSB-first
        bits = np.array([[1, 0, 1, 1, 0, 0, 1, 0, 1, 1],
                         [0, 1, 0, 0, 1, 1, 0, 1, 0, 0]], dtype="uint8")
        raw = b"".join(
            b"\x00" + np.packbits(bits[y]).tobytes() for y in range(2))
        got = _decode_png(self._build(raw, 10, 2, 1, 0))
        assert got is not None
        assert np.array_equal(got[:, :, 0], bits * 255)

    def test_rgb_16bit_high_byte(self):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import \
            _decode_png

        rs = np.random.RandomState(11)
        img16 = rs.randint(0, 65536, size=(3, 4, 3), dtype="uint16")
        raw = b"".join(
            b"\x00" + img16[y].astype(">u2").tobytes() for y in range(3))
        got = _decode_png(self._build(raw, 4, 3, 16, 2))
        assert got is not None
        assert np.array_equal(got, (img16 >> 8).astype("uint8"))

    def test_adam7_interlaced_rgb(self):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _ADAM7, _decode_png)

        rs = np.random.RandomState(13)
        for w, h in ((9, 10), (8, 8), (3, 2), (1, 1), (16, 5)):
            img = rs.randint(0, 256, size=(h, w, 3), dtype="uint8")
            passes = []
            for (sx, sy, dx, dy) in _ADAM7:
                sub = img[sy::dy, sx::dx]
                if sub.size == 0:
                    continue
                for y in range(sub.shape[0]):
                    passes.append(b"\x00" + sub[y].tobytes())
            got = _decode_png(self._build(b"".join(passes), w, h, 8, 2,
                                          interlace=1))
            assert got is not None and np.array_equal(got, img), (w, h)

    def test_adam7_interlaced_palette_2bit(self):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _ADAM7, _decode_png)

        pal = np.array([[10, 20, 30], [40, 50, 60], [70, 80, 90],
                        [100, 110, 120]], dtype="uint8")
        rs = np.random.RandomState(17)
        idx = rs.randint(0, 4, size=(6, 7), dtype="uint8")
        passes = []
        for (sx, sy, dx, dy) in _ADAM7:
            sub = idx[sy::dy, sx::dx]
            if sub.size == 0:
                continue
            for y in range(sub.shape[0]):
                # pack 2-bit indices MSB-first
                row = sub[y]
                bits = np.unpackbits(
                    row.reshape(-1, 1), axis=1)[:, 6:8].reshape(-1)
                passes.append(b"\x00" + np.packbits(bits).tobytes())
        got = _decode_png(self._build(b"".join(passes), 7, 6, 2, 3,
                                      interlace=1, plte=pal.tobytes()))
        assert got is not None and np.array_equal(got, pal[idx])

    def test_features_and_resize_accept_png(self):
        import numpy as np

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _decode_png, _encode_png, _image_features,
            _real_decode_features)

        img = self._img()
        payload = _encode_png(img, filter_type=4)
        feats = _real_decode_features(payload)
        assert feats == _image_features(img)


class TestPngFuzz:
    def test_parser_never_raises_on_arbitrary_bytes(self):
        """A binary parser facing untrusted payloads must degrade to
        None, never raise — fuzzed with random bytes, truncations and
        chunk-level corruptions of a valid file."""
        import numpy as np
        from hypothesis import given, settings, strategies as st

        from source_flink_cdc_3_5_0_spark.extensions.multimodal import (
            _PNG_SIG, _decode_png, _encode_png)

        good = _encode_png(np.random.RandomState(5).randint(
            0, 256, size=(6, 7, 3), dtype="uint8"))

        @settings(max_examples=250, deadline=None)
        @given(data=st.binary(max_size=300),
               cut=st.integers(0, len(good)),
               flip_at=st.integers(8, len(good) - 1),
               flip_to=st.integers(0, 255))
        def check(data, cut, flip_at, flip_to):
            out = _decode_png(_PNG_SIG + data)   # signature + garbage
            assert out is None or out.ndim == 3
            out = _decode_png(good[:cut])        # truncation
            assert out is None or out.ndim == 3
            mutated = good[:flip_at] + bytes([flip_to]) + good[flip_at + 1:]
            out = _decode_png(mutated)           # single-byte corruption
            assert out is None or out.ndim == 3

        check()
