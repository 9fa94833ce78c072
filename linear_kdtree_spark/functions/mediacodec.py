"""Pure-numpy decoders/encoders for the media formats a training-data
pipeline can handle without third-party codec libraries:

- **PPM/PGM** (netpbm): P6/P5 binary and P3/P2 ASCII, 8- and 16-bit
  maxval (format spec: the netpbm man pages — magic, whitespace- and
  comment-tolerant header, then samples row-major top-down; 16-bit
  samples are big-endian).
- **BMP** (Windows DIB): BITMAPFILEHEADER + BITMAPINFOHEADER, BI_RGB
  (uncompressed) 24/32-bit; rows are 4-byte aligned and stored
  bottom-up (top-down when height < 0); pixel order is BGR(A) — decoded
  to RGB top-down.
- **WAV** (RIFF): PCM 8-bit unsigned / 16/32-bit signed little-endian
  and IEEE float32, any channel count; chunk-walking parser (fmt may be
  preceded/followed by other chunks).
- **PNG** (W3C spec): 8-bit non-interlaced, color types 0/2/3/4/6, all
  5 filter types. Chunk parsing and filter reversal are numpy; the zlib
  layer (RFC 1950/1951 inflate, adler-32, the chunk CRC-32) is the
  standard library's ``zlib`` module, the native codec Python ships.

Baseline JPEG decodes for real too (functions/jpegcodec.py); only lossy
AUDIO (MP3) remains the documented NotImplementedError boundary in
operators/multimodal.py.

All decoders are deterministic byte→array functions, which is what makes
the `multimodal_decode` driver gate possible: the gate's payloads are
generated from an integer formula, the engine decodes the encoded bytes,
and the DuckDB oracle computes the same pixel/sample statistics straight
from the formula — any header, padding, row-order, or channel-order bug
flips the order-sensitive checksum.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np


# ---------------------------------------------------------------------------
# netpbm (PPM/PGM)
# ---------------------------------------------------------------------------

def _pnm_header(buf: bytes):
    """(magic, width, height, maxval, data_offset) — tolerates comments
    and arbitrary whitespace, per the netpbm spec."""
    if len(buf) < 2 or buf[0:1] != b"P" or buf[1:2] not in b"2356":
        raise ValueError("not a supported PNM (P2/P3/P5/P6)")
    magic = buf[:2].decode()
    pos = 2
    fields = []
    while len(fields) < 3:
        # skip whitespace and comments
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if pos < len(buf) and buf[pos : pos + 1] == b"#":
            while pos < len(buf) and buf[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("truncated PNM header")
        fields.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval, then data
    w, h, maxval = fields
    return magic, w, h, maxval, pos


def decode_ppm(buf: bytes) -> np.ndarray:
    """(H, W, 3) for P6/P3, (H, W) for P5/P2; uint8, or uint16 when
    maxval > 255 (big-endian samples, per spec)."""
    magic, w, h, maxval, pos = _pnm_header(bytes(buf))
    channels = 3 if magic in ("P3", "P6") else 1
    n = w * h * channels
    if magic in ("P6", "P5"):
        if maxval > 255:
            arr = np.frombuffer(buf, dtype=">u2", count=n, offset=pos).astype(
                np.uint16
            )
        else:
            arr = np.frombuffer(buf, dtype=np.uint8, count=n, offset=pos)
    else:  # ASCII
        vals = bytes(buf)[pos - 1 :].split()
        if len(vals) < n:
            raise ValueError("truncated ASCII PNM data")
        arr = np.array(vals[:n], dtype=np.int64).astype(
            np.uint16 if maxval > 255 else np.uint8
        )
    shape = (h, w, 3) if channels == 3 else (h, w)
    return arr.reshape(shape)


def encode_ppm(img: np.ndarray, maxval: int = 255) -> bytes:
    """P6 (3-channel) / P5 (2-D) binary encoding."""
    img = np.asarray(img)
    if img.ndim == 3 and img.shape[2] == 3:
        magic = b"P6"
        h, w, _ = img.shape
    elif img.ndim == 2:
        magic = b"P5"
        h, w = img.shape
    else:
        raise ValueError("need (H, W, 3) or (H, W)")
    header = b"%s\n%d %d\n%d\n" % (magic, w, h, maxval)
    dtype = ">u2" if maxval > 255 else np.uint8
    return header + img.astype(dtype).tobytes()


# ---------------------------------------------------------------------------
# BMP (BI_RGB only)
# ---------------------------------------------------------------------------

def decode_bmp(buf: bytes) -> np.ndarray:
    """(H, W, 3) uint8 RGB (alpha dropped for 32-bit) — BI_RGB 24/32-bit,
    bottom-up (or top-down when biHeight < 0), 4-byte row alignment."""
    buf = bytes(buf)
    if buf[:2] != b"BM":
        raise ValueError("not a BMP")
    data_off = struct.unpack_from("<I", buf, 10)[0]
    hdr_size, w, h = struct.unpack_from("<Iii", buf, 14)
    if hdr_size < 40:
        raise ValueError("pre-BITMAPINFOHEADER BMP not supported")
    planes, bpp = struct.unpack_from("<HH", buf, 26)
    compression = struct.unpack_from("<I", buf, 30)[0]
    if compression != 0:
        raise NotImplementedError("compressed BMP (BI_RLE/BI_BITFIELDS)")
    if bpp not in (24, 32):
        raise NotImplementedError(f"{bpp}-bit BMP (palette formats)")
    top_down = h < 0
    h = abs(h)
    bytes_pp = bpp // 8
    stride = (w * bytes_pp + 3) & ~3
    rows = np.frombuffer(
        buf, dtype=np.uint8, count=stride * h, offset=data_off
    ).reshape(h, stride)[:, : w * bytes_pp].reshape(h, w, bytes_pp)
    if not top_down:
        rows = rows[::-1]
    # BGR(A) → RGB
    return rows[:, :, 2::-1].copy()


def encode_bmp(img: np.ndarray) -> bytes:
    """24-bit BI_RGB bottom-up encoding of an (H, W, 3) uint8 RGB array."""
    img = np.asarray(img, dtype=np.uint8)
    h, w, c = img.shape
    assert c == 3
    stride = (w * 3 + 3) & ~3
    padded = np.zeros((h, stride), dtype=np.uint8)
    padded[:, : w * 3] = img[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up BGR
    data = padded.tobytes()
    file_header = struct.pack("<2sIHHI", b"BM", 54 + len(data), 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return file_header + info_header + data


# ---------------------------------------------------------------------------
# WAV (RIFF PCM / IEEE float)
# ---------------------------------------------------------------------------

def decode_wav(buf: bytes):
    """(samples (N, channels) ndarray, sample_rate) — walks RIFF chunks;
    PCM 8-bit → uint8, 16/32-bit → int16/int32, format 3 → float32."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(buf):
        cid, size = struct.unpack_from("<4sI", buf, pos)
        body = buf[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_fmt, n_ch, rate, _, _, bits = fmt
    if audio_fmt == 1:
        dtype = {8: np.uint8, 16: np.int16, 32: np.int32}.get(bits)
        if dtype is None:
            raise NotImplementedError(f"{bits}-bit PCM")
    elif audio_fmt == 3 and bits == 32:
        dtype = np.float32
    else:
        raise NotImplementedError(f"WAV format {audio_fmt}/{bits}")
    samples = np.frombuffer(data, dtype=np.dtype(dtype).newbyteorder("<"))
    n = (len(samples) // n_ch) * n_ch
    return samples[:n].reshape(-1, n_ch), rate


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """PCM little-endian encoding; dtype picks the bit depth (uint8 /
    int16 / int32 / float32)."""
    samples = np.asarray(samples)
    if samples.ndim == 1:
        samples = samples.reshape(-1, 1)  # mono: N samples x 1 channel
    elif samples.ndim != 2:
        raise ValueError("samples must be 1-D (mono) or (frames, channels)")
    n, ch = samples.shape
    kind = samples.dtype
    if kind == np.float32:
        audio_fmt, bits = 3, 32
    elif kind == np.uint8:
        audio_fmt, bits = 1, 8
    elif kind == np.int16:
        audio_fmt, bits = 1, 16
    elif kind == np.int32:
        audio_fmt, bits = 1, 32
    else:
        raise ValueError(f"unsupported dtype {kind}")
    data = samples.astype(np.dtype(kind).newbyteorder("<")).tobytes()
    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", audio_fmt, ch, rate, rate * block, block, bits)
    # RIFF requires word-aligned chunks: an odd-length data chunk carries a
    # pad byte NOT counted in the chunk size but counted in the RIFF size
    # (review r5 — spec-compliant walkers advance size+pad past it)
    pad = b"\x00" if len(data) % 2 else b""
    out = b"RIFF" + struct.pack(
        "<I", 4 + 8 + len(fmt) + 8 + len(data) + len(pad)
    ) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data + pad
    return out


# ---------------------------------------------------------------------------
# PNG (W3C PNG spec: chunk parsing and the 5 filter types here; the zlib
# stream and the chunk CRC-32 are the standard library's zlib module)
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_inflate(idat: bytes) -> bytes:
    """The IDAT zlib stream, inflated by stdlib zlib. Every defect is a
    ValueError: ``zlib.error`` is not one, and a stream that ends early
    or is followed by extra bytes inflates without error, so both are
    checked here."""
    d = zlib.decompressobj()
    try:
        raw = d.decompress(idat)
    except zlib.error as e:
        raise ValueError(f"bad PNG zlib stream: {e}") from None
    if not d.eof:
        raise ValueError("truncated PNG zlib stream")
    if d.unused_data:
        raise ValueError("trailing bytes after the PNG zlib stream")
    return raw


_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


# a run must be at least this many rows before the anti-diagonal
# wavefront (numpy call overhead per diagonal) beats the per-row scalar
# loop (~0.4 µs/byte); below it the scalar recurrence wins
_WAVEFRONT_MIN_ROWS = 16


def _unfilter_run(fdata, prev, ftype: int, w: int, ch: int):
    """Reverse a vertical RUN of K same-type Average(3)/Paeth(4) filtered
    rows in one anti-diagonal wavefront. The recurrence cell (row i,
    pixel j) depends on (i, j-1), (i-1, j), (i-1, j-1) only, so every
    cell on an anti-diagonal i + j = d is independent — each diagonal is
    one vectorized numpy step of up to min(K, w) pixels × ch channels,
    giving K + w - 1 steps instead of K·w·ch python-int iterations
    (byte-identical to the scalar spec recurrence; pinned by the
    differential test against the scalar path)."""
    K = len(fdata)
    # SKEWED layout: S[i, i + j] holds reconstructed cell (row i 1..K,
    # pixel j 1..w; channels ride the trailing axis), so each diagonal
    # D = i + j is a plain COLUMN SLICE — basic-slicing views instead of
    # index-array gathers. Row 0 carries the previous reconstructed row,
    # column j = 0 the zero left boundary.
    cur = fdata.reshape(K, w, ch)
    # S[d, i] = cell (row i, pixel j = d - i): one diagonal per ROW, so
    # every step below reads/writes contiguous slices (a diagonal-per-
    # column layout strides K·w·ch·2 bytes between lanes — measured 6×
    # slower at 1024²)
    S = np.zeros((K + w + 1, K + 1, ch), dtype=np.int16)
    S[1:w + 1, 0] = prev.reshape(w, ch)
    XS = np.zeros((K + w + 1, K + 1, ch), dtype=np.int16)
    rows_idx = np.arange(1, K + 1)[:, None]
    diag_idx = np.arange(1, w + 1)[None, :] + rows_idx  # diagonal i + j
    XS[diag_idx, rows_idx] = cur
    for d in range(2, K + w + 1):
        i_lo = max(1, d - w)
        i_hi = min(K, d - 1)
        a = S[d - 1, i_lo:i_hi + 1]
        b = S[d - 1, i_lo - 1:i_hi]
        x = XS[d, i_lo:i_hi + 1]
        if ftype == 3:
            val = (x + ((a + b) >> 1)) & 255
        else:
            c0 = S[d - 2, i_lo - 1:i_hi]
            d1 = a - c0
            d2 = b - c0
            pa = np.abs(d2)   # |p - a| = |b - c|
            pb = np.abs(d1)   # |p - b| = |a - c|
            pc = np.abs(d1 + d2)
            val = (
                x
                + np.where(
                    (pa <= pb) & (pa <= pc), a,
                    np.where(pb <= pc, b, c0),
                )
            ) & 255
        S[d, i_lo:i_hi + 1] = val
    return S[diag_idx, rows_idx].astype(np.uint8).reshape(K, w * ch)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(buf: bytes) -> np.ndarray:
    """(h, w, channels) uint8 from an 8-bit non-interlaced PNG (color
    types 0/2/3/4/6, PLTE for type 3). Each chunk's CRC-32 is checked
    with ``zlib.crc32`` and the IDAT stream is inflated (adler-32
    included) by stdlib zlib in :func:`_png_inflate`; then the 5 PNG
    filters are reversed (None/Sub/Up vectorized; runs of Average/Paeth
    rows via the vectorized anti-diagonal wavefront of
    :func:`_unfilter_run`, short runs via the sequential spec
    recurrences). A bad chunk CRC or zlib stream raises ValueError."""
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(buf):
        ln = int.from_bytes(buf[pos:pos + 4], "big")
        ctype = buf[pos + 4:pos + 8]
        data = buf[pos + 8:pos + 8 + ln]
        crc = int.from_bytes(buf[pos + 8 + ln:pos + 12 + ln], "big")
        if zlib.crc32(ctype + data) != crc:
            raise ValueError(f"PNG chunk CRC mismatch in {ctype!r}")
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype_id, comp, filt, interlace = ihdr
    if depth != 8 or comp != 0 or filt != 0:
        raise ValueError("only 8-bit depth, method-0 PNG supported")
    if interlace != 0:
        raise ValueError("Adam7 interlacing not supported")
    ch = _PNG_CHANNELS.get(ctype_id)
    if ch is None:
        raise ValueError(f"unknown PNG color type {ctype_id}")
    raw = _png_inflate(idat)
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG pixel data length mismatch")
    img = np.zeros((h, stride), dtype=np.uint8)
    raw_arr = np.frombuffer(raw, np.uint8).reshape(h, stride + 1)
    ftypes = raw_arr[:, 0]
    fdata = raw_arr[:, 1:]
    zeros = np.zeros(stride, dtype=np.uint8)
    r = 0
    while r < h:
        ftype = int(ftypes[r])
        prev = img[r - 1] if r else zeros
        if ftype in (3, 4):
            # vertical run of same-type Average/Paeth rows → one
            # anti-diagonal wavefront (see _unfilter_run); short runs
            # stay on the scalar recurrence (numpy step overhead)
            e = r + 1
            while e < h and ftypes[e] == ftype:
                e += 1
            if e - r >= _WAVEFRONT_MIN_ROWS:
                img[r:e] = _unfilter_run(fdata[r:e], prev, ftype, w, ch)
                r = e
                continue
        row = fdata[r].copy()
        if ftype == 0:
            pass
        elif ftype == 1:  # Sub: per-channel prefix sum mod 256
            row = np.cumsum(
                row.reshape(w, ch), axis=0, dtype=np.uint64
            ).astype(np.uint8).reshape(stride)
        elif ftype == 2:  # Up
            row = (row + prev).astype(np.uint8)
        elif ftype == 3:  # Average
            # the left-dependency makes the recurrence inherently
            # sequential; plain-int list arithmetic avoids the numpy
            # scalar boxing of the naive loop (measured 3x: 1.8 ->
            # 0.6 ms per 512px RGB row — ADVICE r4 #4)
            cur = row.tolist()
            pr = prev.tolist()
            for i in range(stride):
                left = cur[i - ch] if i >= ch else 0
                cur[i] = (cur[i] + ((left + pr[i]) >> 1)) & 255
            row = np.asarray(cur, dtype=np.uint8)
        elif ftype == 4:  # Paeth (same sequential-recurrence note)
            cur = row.tolist()
            pr = prev.tolist()
            for i in range(stride):
                a = cur[i - ch] if i >= ch else 0
                c = pr[i - ch] if i >= ch else 0
                b = pr[i]
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                cur[i] = (cur[i] + pred) & 255
            row = np.asarray(cur, dtype=np.uint8)
        else:
            raise ValueError(f"unknown PNG filter {ftype}")
        img[r] = row
        r += 1
    img = img.reshape(h, w, ch)
    if ctype_id == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        img = plte[img[:, :, 0]]
    return img


def encode_png(img: np.ndarray) -> bytes:
    """8-bit gray/gray+alpha/RGB/RGBA PNG: every row filter type None,
    IDAT by ``zlib.compress`` at level 6."""
    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, ch = img.shape
    ctype_id = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = bytearray()
    for r in range(h):
        raw.append(0)  # filter type None
        raw += img[r].tobytes()
    z = zlib.compress(bytes(raw), 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big") + ctype + data
            + zlib.crc32(ctype + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype_id, 0, 0, 0)
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", z)
        + chunk(b"IEND", b"")
    )
