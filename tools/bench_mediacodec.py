"""Decode-throughput microbench for the PNG path (BENCH/BASELINE.md
"mediacodec decode" rows): a Paeth-filtered RGB PNG with a realistic
zlib-6 IDAT stream, decoded by
linear_kdtree_spark.functions.mediacodec.decode_png.

Usage (from the repository root):
    python tools/bench_mediacodec.py [side_px] [reps]
Prints one line: raw MB/s plus component timings (stdlib zlib inflate,
and the rest of the decode, which is mostly the filter reversal).
"""

from __future__ import annotations

import struct
import sys
import time
import zlib

import numpy as np

sys.path.insert(0, ".")

from linear_kdtree_spark.functions import mediacodec as mc  # noqa: E402


def paeth_png(side: int) -> tuple[bytes, int]:
    """All-Paeth-filtered RGB PNG (gradient + noise → realistic filter
    residuals and deflate ratio), IDAT via stdlib zlib level 6."""
    rng = np.random.default_rng(99)
    h = w = side
    ch = 3
    yy, xx = np.mgrid[0:h, 0:w]
    img = np.stack(
        [
            (xx // 2 + rng.integers(0, 8, (h, w))) % 256,
            (yy // 2 + rng.integers(0, 8, (h, w))) % 256,
            ((xx + yy) // 3 + rng.integers(0, 8, (h, w))) % 256,
        ],
        axis=2,
    ).astype(np.int64)
    stride = w * ch
    flat = img.reshape(h, stride)
    raw = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for r in range(h):
        cur = flat[r]
        filt = np.zeros(stride, dtype=np.int64)
        for i in range(stride):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            filt[i] = (int(cur[i]) - mc._paeth(a, b, c)) % 256
        raw.append(4)
        raw += filt.astype(np.uint8).tobytes()
        prev = cur

    def chunk(ctype, data):
        return (len(data).to_bytes(4, "big") + ctype + data
                + zlib.crc32(ctype + data).to_bytes(4, "big"))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    buf = (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
           + chunk(b"IDAT", zlib.compress(bytes(raw), 6))
           + chunk(b"IEND", b""))
    return buf, h * stride


def main() -> int:
    side = int(sys.argv[1]) if len(sys.argv) > 1 else 512
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    buf, raw_bytes = paeth_png(side)
    best = None
    for _ in range(reps):
        t0 = time.time()
        img = mc.decode_png(buf)
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    assert img.shape == (side, side, 3)
    # component timings on the same stream
    idat = bytearray()
    pos = 8
    while pos + 8 <= len(buf):
        ln = int.from_bytes(buf[pos:pos + 4], "big")
        if buf[pos + 4:pos + 8] == b"IDAT":
            idat += buf[pos + 8:pos + 8 + ln]
        pos += 12 + ln
    t0 = time.time()
    zlib.decompress(bytes(idat))
    t_inflate = time.time() - t0
    print(
        f"paeth_png side={side} raw={raw_bytes/1e6:.2f}MB "
        f"decode_best={best:.3f}s ({raw_bytes/best/1e6:.2f} MB/s) "
        f"zlib_inflate={t_inflate:.3f}s "
        f"unfilter≈{best - t_inflate:.3f}s"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
