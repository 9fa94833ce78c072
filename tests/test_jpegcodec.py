"""Tests for the from-scratch baseline JPEG codec (functions/jpegcodec.py).

No external codec exists in this container (pillow is absent), so
validation is (a) encoder→decoder roundtrip error bounds across quality /
subsampling / restart settings, (b) bit-level determinism pins (sha256 of
the encoded stream AND of the decoded pixels for a fixed image — the
fixed-point integer IDCT makes decode bit-exact across platforms),
(c) structural stream checks against the T.81 marker grammar, and
(d) rejection of the non-baseline frame types the decoder documents.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from linear_kdtree_spark.functions.jpegcodec import (
    _BitWriter,
    decode_jpeg,
    encode_jpeg,
    idct2_int,
)


def _test_image(h=40, w=56):
    """Deterministic band-limited image (smooth gradients + low-frequency
    texture, no wrap discontinuities — JPEG error bounds are meaningful
    only on content inside the codec's design envelope)."""
    y, x = np.mgrid[0:h, 0:w]
    r = np.clip(60 + x * 2.0 + y * 1.0, 0, 255)
    g = 128 + 80 * np.sin(x / 9.0) + 40 * np.cos(y / 11.0)
    b = np.clip(200 - x * 1.5 + 20 * np.sin((x + y) / 13.0), 0, 255)
    return np.stack([r, g, b], axis=-1).astype(np.uint8)


class TestRoundtrip:
    def test_rgb_444_quality_ladder(self):
        img = _test_image()
        prev_err = None
        for q in (50, 75, 90, 95):
            out = decode_jpeg(encode_jpeg(img, quality=q, subsample="444"))
            assert out.shape == img.shape and out.dtype == np.uint8
            err = np.abs(out.astype(int) - img.astype(int)).mean()
            assert err < 4.0, (q, err)
            if prev_err is not None:  # higher quality -> no worse error
                assert err <= prev_err + 0.05
            prev_err = err

    def test_rgb_420_subsampling(self):
        img = _test_image(33, 47)  # odd dims exercise edge padding
        out = decode_jpeg(encode_jpeg(img, quality=90, subsample="420"))
        assert out.shape == img.shape
        # luma survives subsampling nearly intact; chroma is averaged
        lum_in = img.astype(int).mean(axis=-1)
        lum_out = out.astype(int).mean(axis=-1)
        assert np.abs(lum_in - lum_out).mean() < 3.0

    def test_grayscale(self):
        y, x = np.mgrid[0:24, 0:40]
        g = ((x * 3 + y * 2) % 256).astype(np.uint8)
        out = decode_jpeg(encode_jpeg(g, quality=92))
        assert out.shape == g.shape and out.dtype == np.uint8
        assert np.abs(out.astype(int) - g.astype(int)).max() <= 3

    def test_flat_image_lossless_at_q100(self):
        img = np.full((16, 24, 3), 77, np.uint8)
        out = decode_jpeg(encode_jpeg(img, quality=100))
        assert np.array_equal(out, img)

    def test_restart_intervals_change_stream_not_pixels(self):
        img = _test_image(32, 48)
        plain = encode_jpeg(img, quality=88)
        rst = encode_jpeg(img, quality=88, restart_interval=3)
        assert plain != rst  # DRI + RSTn markers present
        assert b"\xff\xdd" in rst and b"\xff\xd0" in rst
        assert np.array_equal(decode_jpeg(plain), decode_jpeg(rst))

    def test_tiny_and_nonmultiple_dims(self):
        for h, w in ((1, 1), (7, 9), (8, 8), (15, 17)):
            img = _test_image(h, w)
            out = decode_jpeg(encode_jpeg(img, quality=90))
            assert out.shape == (h, w, 3)


class TestDeterminismPins:
    """Bit-exactness pins: any change to quant tables, Huffman code
    assignment, bit order, IDCT rounding, or color transform flips these."""

    def test_encode_stream_pinned(self):
        img = _test_image(24, 32)
        data = encode_jpeg(img, quality=80, subsample="420")
        assert data == encode_jpeg(img, quality=80, subsample="420")
        assert hashlib.sha256(data).hexdigest() == (
            "ea2ed7a8a34e13abf91417169d0bceab3165306f2d2ac84188f8cc1507e7ede1"
        )

    def test_decode_pixels_pinned(self):
        img = _test_image(24, 32)
        out = decode_jpeg(encode_jpeg(img, quality=80, subsample="420"))
        assert out.dtype == np.uint8 and out.shape == (24, 32, 3)
        assert hashlib.sha256(out.tobytes()).hexdigest() == (
            "06e4ee2dc85a5b118e9d8967e6a7f5943b1e118bfd4cb532ce3220e6ba0a4113"
        )

    def test_idct_integer_dc_only(self):
        # a DC-only block must reconstruct flat: DC * a(0)^2 = DC/8
        blocks = np.zeros((1, 8, 8), dtype=np.int64)
        blocks[0, 0, 0] = 800
        out = idct2_int(blocks)
        assert (out == 100).all()

    def test_idct_matches_float_reference(self):
        rng = np.random.default_rng(3)
        blocks = rng.integers(-1024, 1024, size=(64, 8, 8)).astype(np.int64)
        x = np.arange(8.0)[:, None]
        u = np.arange(8.0)[None, :]
        m = np.cos((2 * x + 1) * u * np.pi / 16.0)
        m[:, 0] *= np.sqrt(1.0 / 8.0)
        m[:, 1:] *= 0.5
        ref = np.einsum("xu,nuv,yv->nxy", m, blocks.astype(float), m)
        out = idct2_int(blocks)
        assert np.abs(out - np.round(ref)).max() <= 1  # fixed-point ULP


class TestStreamStructure:
    def test_marker_grammar(self):
        data = encode_jpeg(_test_image(16, 16), quality=85)
        assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
        # SOF0 present with 3 components, 8-bit precision
        i = data.index(b"\xff\xc0")
        assert data[i + 4] == 8 and data[i + 9] == 3
        # two DQT, two DHT, one SOS
        assert data.count(b"\xff\xdb") >= 2
        assert data.count(b"\xff\xc4") >= 2
        assert data.count(b"\xff\xda") == 1

    def test_entropy_segment_is_stuffed(self):
        # every 0xFF inside the entropy segment must be followed by 0x00
        # or be a marker; decoding at all proves un-stuffing works, so
        # just scan between SOS payload end and EOI for bare 0xFF+nonzero
        data = encode_jpeg(_test_image(40, 40), quality=30)
        sos = data.index(b"\xff\xda")
        seg_start = sos + 2 + int.from_bytes(data[sos + 2:sos + 4], "big")
        body = data[seg_start:-2]
        j = 0
        while j < len(body) - 1:
            if body[j] == 0xFF:
                assert body[j + 1] == 0x00, f"unstuffed 0xFF at {j}"
                j += 2
            else:
                j += 1


class TestBitWriter:
    def test_accumulator_holds_only_pending_bits(self):
        """The writer keeps fewer than 8 pending bits between calls (an
        unmasked accumulator made encoding quadratic in the image size),
        and its bytes equal a bit-string writer's, stuffing included."""
        rng = np.random.default_rng(7)
        w = _BitWriter()
        bits = ""
        for _ in range(5000):
            length = int(rng.integers(1, 17))
            # every fourth code is all ones, so 0xFF bytes (stuffed) occur
            code = (1 << length) - 1 if rng.integers(4) == 0 else int(rng.integers(1 << 20))
            w.put(code, length)
            bits += format(code & ((1 << length) - 1), f"0{length}b")
            assert 0 <= w.acc < 1 << w.nacc and w.nacc < 8
        w.flush()
        bits += "1" * (-len(bits) % 8)
        want = bytearray()
        for i in range(0, len(bits), 8):
            want.append(int(bits[i:i + 8], 2))
            if want[-1] == 0xFF:
                want.append(0x00)
        assert 0xFF in want
        assert bytes(w.out) == bytes(want)


class TestRejections:
    def test_not_a_jpeg(self):
        with pytest.raises(ValueError):
            decode_jpeg(b"\x89PNG\r\n\x1a\n")

    def test_progressive_rejected(self):
        data = bytearray(encode_jpeg(_test_image(16, 16)))
        i = data.index(b"\xff\xc0")
        data[i + 1] = 0xC2  # SOF0 -> SOF2 (progressive)
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(data))

    def test_truncated_stream(self):
        data = encode_jpeg(_test_image(24, 24))
        with pytest.raises(ValueError):
            decode_jpeg(data[: len(data) // 2])

    def test_bad_dimensions(self):
        with pytest.raises(ValueError):
            encode_jpeg(np.zeros((0, 4, 3), np.uint8))

    def test_zero_sampling_factor_is_valueerror(self):
        # corrupt Hi/Vi = 0 must surface as the documented ValueError, not
        # ZeroDivisionError escaping into (and killing) a Spark task
        data = bytearray(encode_jpeg(_test_image(16, 16)))
        i = data.index(b"\xff\xc0")
        data[i + 11] = 0x00  # first component's sampling byte
        with pytest.raises(ValueError):
            decode_jpeg(bytes(data))

    def test_noninterleaved_scan_rejected_not_garbage(self):
        # SOS declaring fewer components than the frame is legal baseline
        # we do not support — must refuse, never silently mis-decode
        data = bytearray(encode_jpeg(_test_image(16, 16), subsample="444"))
        i = data.index(b"\xff\xda")
        data[i + 4] = 1  # Ns: 3 -> 1
        with pytest.raises(NotImplementedError):
            decode_jpeg(bytes(data))

    def test_second_scan_rejected(self):
        # a second full scan would wipe the first scan's planes
        data = bytearray(encode_jpeg(_test_image(16, 16)))
        i = data.index(b"\xff\xda")
        sos_len = 2 + int.from_bytes(data[i + 2:i + 4], "big")
        dup = bytes(data[i:]).rstrip(b"\xd9").rstrip(b"\xff")
        patched = bytes(data[:-2]) + dup[:sos_len] + dup[sos_len:] + b"\xff\xd9"
        with pytest.raises(NotImplementedError):
            decode_jpeg(patched)

    def test_fake_mode_survives_corrupt_sampling(self):
        from linear_kdtree_spark.operators.multimodal import decode_image

        data = bytearray(encode_jpeg(_test_image(16, 16)))
        i = data.index(b"\xff\xc0")
        data[i + 11] = 0x00
        img = decode_image(bytes(data), fake=True)  # stand-in, not a raise
        assert img.ndim == 3
