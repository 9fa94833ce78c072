"""Format-vs-spec tests for the from-scratch media codecs
(functions/mediacodec.py). The fixtures are HAND-WRITTEN byte sequences
straight from the published format specs (netpbm man pages, Windows
BITMAPINFOHEADER, RIFF/WAVE) — independent of the encoders — so a
matching encoder/decoder bug cannot hide (the driver's roundtrip gate
`multimodal_decode` covers the other failure class)."""

import struct
import zlib

import numpy as np
import pytest

from linear_kdtree_spark.functions.mediacodec import (
    decode_bmp,
    decode_ppm,
    decode_wav,
    encode_bmp,
    encode_ppm,
    encode_wav,
)


# ---------------------------------------------------------------------------
# netpbm
# ---------------------------------------------------------------------------

def test_ppm_p6_bytes_from_spec():
    buf = b"P6\n2 1\n255\n\x01\x02\x03\x04\x05\x06"
    img = decode_ppm(buf)
    assert img.shape == (1, 2, 3)
    assert img.tolist() == [[[1, 2, 3], [4, 5, 6]]]


def test_ppm_header_comments_and_whitespace():
    buf = b"P6 # a comment\n# another\n 2\t1 \n255\n\x01\x02\x03\x04\x05\x06"
    assert decode_ppm(buf).tolist() == [[[1, 2, 3], [4, 5, 6]]]


def test_ppm_p3_ascii():
    img = decode_ppm(b"P3\n2 2\n255\n1 2 3 4 5 6\n7 8 9 10 11 12")
    assert img.shape == (2, 2, 3)
    assert img[1, 1].tolist() == [10, 11, 12]


def test_pgm_p5_and_p2():
    assert decode_ppm(b"P5\n3 1\n255\n\x0a\x14\x1e").tolist() == [[10, 20, 30]]
    assert decode_ppm(b"P2\n3 1\n255\n10 20 30").tolist() == [[10, 20, 30]]


def test_ppm_16bit_big_endian():
    # spec: maxval > 255 → two bytes per sample, most significant first
    buf = b"P5\n1 1\n65535\n\x01\x02"
    img = decode_ppm(buf)
    assert img.dtype == np.uint16 and img[0, 0] == 0x0102


def test_ppm_roundtrip_random():
    rng = np.random.default_rng(3)
    for shape in ((1, 1, 3), (5, 7, 3), (4, 4)):
        img = rng.integers(0, 256, size=shape, dtype=np.uint8)
        assert np.array_equal(decode_ppm(encode_ppm(img)), img)
    img16 = rng.integers(0, 65536, size=(3, 2, 3), dtype=np.uint16)
    assert np.array_equal(decode_ppm(encode_ppm(img16, 65535)), img16)


def test_ppm_rejects_garbage():
    with pytest.raises(ValueError):
        decode_ppm(b"JUNK")


# ---------------------------------------------------------------------------
# BMP
# ---------------------------------------------------------------------------

def _bmp_bytes(w, h, rows_bgr_padded: bytes, bpp=24):
    file_header = struct.pack("<2sIHHI", b"BM", 54 + len(rows_bgr_padded), 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, bpp, 0,
                       len(rows_bgr_padded), 0, 0, 0, 0)
    return file_header + info + rows_bgr_padded


def test_bmp_bottom_up_bgr_and_padding_from_spec():
    # 1×2 image: top pixel RGB(10,20,30), bottom RGB(40,50,60).
    # File stores BOTTOM row first, BGR order, rows padded to 4 bytes.
    data = bytes([60, 50, 40, 0]) + bytes([30, 20, 10, 0])
    img = decode_bmp(_bmp_bytes(1, 2, data))
    assert img.shape == (2, 1, 3)
    assert img[0, 0].tolist() == [10, 20, 30]
    assert img[1, 0].tolist() == [40, 50, 60]


def test_bmp_top_down_negative_height():
    data = bytes([30, 20, 10, 0]) + bytes([60, 50, 40, 0])
    img = decode_bmp(_bmp_bytes(1, -2, data))
    assert img[0, 0].tolist() == [10, 20, 30]
    assert img[1, 0].tolist() == [40, 50, 60]


def test_bmp_32bit_alpha_dropped():
    data = bytes([30, 20, 10, 99, 60, 50, 40, 99])  # one row, two px, BGRA
    img = decode_bmp(_bmp_bytes(2, 1, data, bpp=32))
    assert img.shape == (1, 2, 3)
    assert img[0, 0].tolist() == [10, 20, 30]
    assert img[0, 1].tolist() == [40, 50, 60]


def test_bmp_roundtrip_odd_widths():
    rng = np.random.default_rng(5)
    for w in (1, 2, 3, 4, 5, 13):
        img = rng.integers(0, 256, size=(3, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_bmp(encode_bmp(img)), img), w


def test_bmp_rejects_compressed():
    hdr = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 1, 1, 1, 24, 1, 0, 0, 0, 0, 0
    )
    with pytest.raises(NotImplementedError):
        decode_bmp(hdr + b"\x00" * 4)


# ---------------------------------------------------------------------------
# WAV
# ---------------------------------------------------------------------------

def test_wav_pcm16_bytes_from_spec():
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    data = b"\x01\x00\xfe\xff"  # samples 1, -2 little-endian
    buf = (b"RIFF" + struct.pack("<I", 4 + 8 + 16 + 8 + 4) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", 4) + data)
    samples, rate = decode_wav(buf)
    assert rate == 8000
    assert samples.ravel().tolist() == [1, -2]


def test_wav_chunk_walking_skips_unknown_chunks():
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    data = struct.pack("<4h", 5, -6, 7, -8)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc" + b"\x00"  # odd → padded
    buf = (b"RIFF" + struct.pack("<I", 100) + b"WAVE" + junk
           + b"fmt " + struct.pack("<I", 16) + fmt
           + b"data" + struct.pack("<I", len(data)) + data)
    samples, rate = decode_wav(buf)
    assert samples.shape == (2, 2)
    assert samples.tolist() == [[5, -6], [7, -8]]


def test_wav_roundtrip_dtypes():
    rng = np.random.default_rng(7)
    for dtype, lo, hi in (
        (np.uint8, 0, 256), (np.int16, -(2**15), 2**15),
        (np.int32, -(2**31), 2**31),
    ):
        s = rng.integers(lo, hi, size=(50, 2)).astype(dtype)
        out, rate = decode_wav(encode_wav(s, 22050))
        assert rate == 22050 and np.array_equal(out, s), dtype
    f = rng.normal(size=(30, 1)).astype(np.float32)
    out, _ = decode_wav(encode_wav(f))
    assert np.array_equal(out, f)


def test_wav_rejects_non_riff():
    with pytest.raises(ValueError):
        decode_wav(b"OggS\x00\x00")


def test_decode_image_dispatch():
    from linear_kdtree_spark.operators.multimodal import decode_image

    rng = np.random.default_rng(9)
    img = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(img)), img)
    assert np.array_equal(decode_image(encode_bmp(img)), img)
    # PNG and JPEG now decode for real: truncated bytes are a decode
    # error, not a missing-codec boundary
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        decode_image(b"\xff\xd8\xff\xe0jpeg...")
    from linear_kdtree_spark.functions.jpegcodec import encode_jpeg

    jpg = encode_jpeg(img, quality=95)
    out = decode_image(jpg)
    assert out.shape == img.shape and out.dtype == np.uint8
    assert decode_image(b"\x89PNG!!", fake=True).shape == (8, 8, 3)


# ------------------------------------------------------------------- PNG

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (len(data).to_bytes(4, "big") + ctype + data
            + zlib.crc32(ctype + data).to_bytes(4, "big"))


def _with_fcheck(cmf: int, flg: int) -> bytes:
    """A zlib header whose FCHECK bits are valid (RFC 1950 §2.2), so a
    decoder must reject it for its method or FDICT bit, not its check."""
    flg &= 0xE0
    flg |= (31 - (cmf * 256 + flg) % 31) % 31
    return bytes([cmf, flg])


def _idat_defects():
    raw = b"".join(b"\x00" + bytes(range(r, r + 12)) for r in range(4))
    z = zlib.compress(raw, 6)
    adler = bytearray(z)
    adler[-1] ^= 0x01
    return {
        "truncated": z[:len(z) // 2],
        "wrong_method": _with_fcheck(0x77, z[1]) + z[2:],
        "fdict": _with_fcheck(z[0], z[1] | 0x20) + z[2:],
        "flipped_adler": bytes(adler),
        "trailing_bytes": z + b"\x00\x00",
    }


@pytest.mark.parametrize("defect", sorted(_idat_defects()))
def test_png_idat_defects_rejected(defect):
    """Each IDAT defect, with every chunk CRC valid, is a ValueError, so
    decode_image's fake=True mode returns the stand-in for it."""
    from linear_kdtree_spark.functions.mediacodec import decode_png
    from linear_kdtree_spark.operators.multimodal import (
        _fake_decode,
        decode_image,
    )

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)
    buf = (_PNG_SIG + _chunk(b"IHDR", ihdr)
           + _chunk(b"IDAT", _idat_defects()[defect])
           + _chunk(b"IEND", b""))
    with pytest.raises(ValueError):
        decode_png(buf)
    assert np.array_equal(decode_image(buf, fake=True), _fake_decode(buf))


class TestPng:
    def _rt(self, img):
        from linear_kdtree_spark.functions.mediacodec import (
            decode_png,
            encode_png,
        )

        out = decode_png(encode_png(img))
        assert out.shape == (img.shape[0], img.shape[1],
                             1 if img.ndim == 2 else img.shape[2])
        assert (out.reshape(img.shape) == img).all()

    def test_roundtrip_rgb_compressed_and_stored(self):
        rng = np.random.default_rng(5)
        img = rng.integers(0, 256, (19, 13, 3), dtype=np.uint8)
        self._rt(img)

    def test_roundtrip_gray_ga_rgba(self):
        rng = np.random.default_rng(6)
        for ch in (1, 2, 4):
            self._rt(rng.integers(0, 256, (7, 9, ch), dtype=np.uint8))
        self._rt(rng.integers(0, 256, (7, 9), dtype=np.uint8))  # 2-D gray

    def test_all_five_filter_types_unfilter(self):
        """Hand-filter rows with each forward filter (PNG spec §9) and
        check the decoder reverses them — the encoder only emits filter
        0, so this is the only coverage of Sub/Up/Average/Paeth."""
        from linear_kdtree_spark.functions.mediacodec import decode_png

        rng = np.random.default_rng(8)
        img = rng.integers(0, 256, (5, 6, 3), dtype=np.int64)
        buf = _hand_filter_png(img, lambda r: r % 5)
        assert (decode_png(buf) == img).all()

    def test_palette_png(self):
        from linear_kdtree_spark.functions.mediacodec import decode_png

        palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 7, 8, 9])
        idx = np.array([[0, 1, 2, 3], [3, 2, 1, 0]], dtype=np.uint8)
        raw = b"".join(b"\x00" + row.tobytes() for row in idx)
        ihdr = struct.pack(">IIBBBBB", 4, 2, 8, 3, 0, 0, 0)
        buf = (_PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", palette)
               + _chunk(b"IDAT", zlib.compress(raw, 0))
               + _chunk(b"IEND", b""))
        out = decode_png(buf)
        want = np.frombuffer(palette, np.uint8).reshape(4, 3)[idx]
        assert (out == want).all()

    def test_corrupt_crc_rejected(self):
        from linear_kdtree_spark.functions.mediacodec import (
            decode_png,
            encode_png,
        )

        img = np.zeros((4, 4, 3), dtype=np.uint8)
        buf = bytearray(encode_png(img))
        buf[20] ^= 0xFF  # inside IHDR data
        with pytest.raises(ValueError, match="CRC"):
            decode_png(bytes(buf))

    def test_decode_image_dispatches_png(self):
        from linear_kdtree_spark.functions.mediacodec import encode_png
        from linear_kdtree_spark.operators.multimodal import decode_image

        rng = np.random.default_rng(9)
        img = rng.integers(0, 256, (6, 5, 3), dtype=np.uint8)
        assert (decode_image(encode_png(img)) == img).all()
        gray = rng.integers(0, 256, (6, 5), dtype=np.uint8)
        out = decode_image(encode_png(gray))
        assert out.shape == (6, 5, 1)


def test_wav_odd_length_data_chunk_is_padded():
    """RIFF chunks are word-aligned: odd byte counts carry a pad byte not
    counted in the chunk size but counted in the RIFF size (review r5)."""
    import struct

    import numpy as np

    from linear_kdtree_spark.functions.mediacodec import decode_wav, encode_wav

    buf = encode_wav(np.array([1, 2, 3], dtype=np.uint8), rate=8000)
    assert len(buf) % 2 == 0
    riff_size = struct.unpack("<I", buf[4:8])[0]
    assert riff_size == len(buf) - 8  # pad counted in the RIFF size
    samples, rate = decode_wav(buf)
    assert rate == 8000 and samples.ravel().tolist() == [1, 2, 3]


def _hand_filter_png(img: np.ndarray, ftype_of_row) -> bytes:
    """Forward-filter an image per-row (PNG spec §9) and wrap it in a
    stored-deflate PNG (zlib level 0 emits stored blocks) — shared
    scaffold for the filter/wavefront tests."""
    from linear_kdtree_spark.functions.mediacodec import _paeth

    h, w, ch = img.shape
    stride = w * ch
    flat = img.reshape(h, stride)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        ftype = ftype_of_row(r)
        cur = flat[r]
        filt = np.zeros(stride, dtype=np.int64)
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            x = int(cur[i])
            if ftype == 0:
                filt[i] = x
            elif ftype == 1:
                filt[i] = (x - a) % 256
            elif ftype == 2:
                filt[i] = (x - b) % 256
            elif ftype == 3:
                filt[i] = (x - (a + b) // 2) % 256
            else:
                filt[i] = (x - _paeth(a, b, c)) % 256
        raw.append(ftype)
        raw += filt.astype(np.uint8).tobytes()
        prev = cur

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2 if ch == 3 else 0, 0, 0, 0)
    return (_PNG_SIG + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(raw), 0))
            + _chunk(b"IEND", b""))


def test_unfilter_wavefront_long_runs_match_scalar():
    """Runs >= _WAVEFRONT_MIN_ROWS take the anti-diagonal wavefront
    (r6 optimization); pin it byte-identical to the scalar spec
    recurrence on all-Paeth, all-Average and mixed-run images."""
    from linear_kdtree_spark.functions import mediacodec as mc

    rng = np.random.default_rng(1234)
    for ftype_of_row, h in (
        (lambda r: 4, 48),                     # all Paeth, one long run
        (lambda r: 3, 48),                     # all Average
        (lambda r: 3 if r < 20 else 4, 40),    # two runs above threshold
        (lambda r: (r // 8) % 2 + 3, 32),      # runs straddling threshold
    ):
        img = rng.integers(0, 256, (h, 9, 3), dtype=np.int64)
        buf = _hand_filter_png(img, ftype_of_row)
        got = mc.decode_png(buf)
        assert (got == img).all()
        # differential: force the scalar path on the same image
        orig = mc._WAVEFRONT_MIN_ROWS
        mc._WAVEFRONT_MIN_ROWS = 10**9
        try:
            scalar = mc.decode_png(buf)
        finally:
            mc._WAVEFRONT_MIN_ROWS = orig
        assert (got == scalar).all()


def test_truncated_headers_fall_back_to_stand_in():
    """A payload whose header dies inside struct.unpack / buffer indexing
    (truncated BMP/PNG/WAV) must hit the deterministic stand-in under
    fake=True instead of killing the job with a raw struct.error
    (ADVICE r5 medium)."""
    from linear_kdtree_spark.operators.multimodal import decode_image

    for buf in (
        b"BM" + b"\x00" * 6,                    # truncated BMP header
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 3,     # truncated PNG chunk
        b"\xff\xd8\x00",                        # truncated JPEG
        b"P6 2 2 255",                          # truncated PPM pixel data
    ):
        img = decode_image(buf, fake=True)
        assert img.shape == (8, 8, 3)


@pytest.mark.parametrize("argv", [
    ["tools/bench_mediacodec.py", "32", "1"],
    ["tools/bench_jpegcodec.py", "32"],
])
def test_codec_bench_tools_run(argv):
    """The codec microbenches reach into the codec modules
    (bench_mediacodec uses ``_paeth``): a small run of each must exit
    cleanly, so a change to those modules cannot leave them broken."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run([sys.executable, *argv], cwd=repo,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
