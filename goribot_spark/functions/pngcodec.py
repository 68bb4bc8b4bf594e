"""Minimal pure-Python PNG encode/decode (8-bit RGB, non-interlaced).

The sandbox has no PIL, so the image payload required by the input_hint
(``bytes:binary`` + decoded-pixel verification) uses this codec: a valid,
spec-conformant PNG writer (filter 0, zlib) and a reader for the subset we
emit plus all five standard filter types on read. Deterministic: same pixels
→ same bytes. This is the lossless leg of the payload; lossy (jpeg) decode is
gated behind an optional PIL import in imaging.py and stubbed otherwise.
"""

from __future__ import annotations

import struct
import zlib
from functools import lru_cache

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"

# Largest image decode_png will inflate: 2^25 pixels (e.g. 8192x4096), at
# most 128 MB of RGBA scanlines. IHDR is checked against it before any
# inflate, so a declared 65535x65535 costs a decode error, not an OOM.
MAX_PIXELS = 1 << 25

# BT.601 luma weights — shared by the scalar and batched phash so the two
# paths run the exact same float64 operations (bit-identical outputs).
_GRAY_W = np.array([0.299, 0.587, 0.114])


@lru_cache(maxsize=1024)
def _box_idx(h: int, w: int):
    """Cached 9x10 box-grid segment starts + box pixel counts for (h, w).
    Image corpora have few distinct shapes, so these tiny index arrays are
    computed once per shape instead of per image."""
    ys0 = np.arange(9) * h // 9
    xs0 = np.arange(10) * w // 10
    counts = np.outer(np.diff(ys0), np.diff(xs0)).astype(np.float64)
    return ys0, xs0, counts


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_png(pixels: np.ndarray) -> bytes:
    """RGB uint8 array (h, w, 3) → PNG bytes (color type 2, bit depth 8)."""
    if pixels.dtype != np.uint8 or pixels.ndim != 3 or pixels.shape[2] != 3:
        raise ValueError("expected (h, w, 3) uint8 RGB array")
    h, w = pixels.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # Filter byte 0 per scanline.
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    idat = zlib.compress(raw, 6)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def _unfilter(raw: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    stride = w * bpp
    buf = np.frombuffer(raw, dtype=np.uint8)
    if buf.size != h * (stride + 1):
        raise ValueError("bad PNG data size")
    rows = buf.reshape(h, stride + 1)
    ftypes = rows[:, 0]
    if not ftypes.any():
        # All scanlines filter 0 (what encode_png emits, and a common real
        # encoder choice for small images): the whole image unfilters as one
        # strided copy. This is the crawl's hottest kernel — the per-line
        # loop below measured 147 us per 64x64 image vs 11 us for this path,
        # and the decode stage is the majority of the crawl wall at scale.
        return np.ascontiguousarray(rows[:, 1:])
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        ftype = int(ftypes[y])
        line = rows[y, 1:].astype(np.int32)
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub — per-channel prefix sum mod 256, vectorized
            cur = line.reshape(w, bpp).cumsum(axis=0, dtype=np.int64).reshape(stride) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for i in range(stride):
                left = cur[i - bpp] if i >= bpp else 0
                cur[i] = (cur[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes → RGB uint8 (h, w, 3). Supports 8-bit RGB/RGBA/gray, filters 0-4."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = 0
    bit_depth = color_type = 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, bit_depth, color_type, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if bit_depth != 8 or interlace != 0:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    channels = {0: 1, 2: 3, 6: 4}.get(color_type)
    if channels is None:
        raise ValueError(f"unsupported color type {color_type}")
    if not 0 < w * h <= MAX_PIXELS:
        raise ValueError(f"PNG dimensions {w}x{h} out of bounds")
    # Inflate at most one byte past the scanline bytes IHDR implies, so a
    # zlib bomb never allocates more than the declared image.
    expected = h * (1 + w * channels)
    inflater = zlib.decompressobj()
    raw = inflater.decompress(idat, expected + 1)
    if len(raw) != expected or not inflater.eof:
        raise ValueError("bad PNG data size")
    arr = _unfilter(raw, w, h, channels).reshape(h, w, channels)
    if channels == 1:
        arr = np.repeat(arr, 3, axis=2)
    elif channels == 4:
        arr = arr[:, :, :3]
    return arr


def phash64(pixels: np.ndarray) -> int:
    """64-bit difference hash (dHash) of an RGB array — signed long.

    BT.601 grayscale → area-resample to 9×8 → horizontal gradient sign
    bits. Deterministic pure-numpy stand-in for a perceptual hash (reference
    has no image ops; required by input_hint's ``phash:int64`` column).

    The box means are computed as EXACT integer channel sums weighted at
    the box level — mathematically identical to box-meaning per-pixel
    grays (the luma weighting distributes over the sum) with strictly
    less float rounding, and it avoids materializing an (h, w) float64
    gray image: the integer reduceat path runs ~5x faster per image and
    one-tenth the memory traffic, which matters because this kernel
    dominates the crawl wall (see phash64_batch).
    """
    h, w = pixels.shape[:2]
    if h >= 9 and w >= 10:
        # Two reduceat passes (row segments then column segments) over the
        # uint8 channels — one vectorized pass instead of 72 python-level
        # slice.mean() calls. Segment r of reduceat(ys0) spans
        # ys0[r]..ys0[r+1] for r<8 — the original box bounds exactly; the
        # trailing segment (to h / to w) is sliced away.
        ys0, xs0, counts = _box_idx(h, w)
        row_sums = np.add.reduceat(pixels, ys0, axis=0, dtype=np.int64)[:8]
        box_sums = np.add.reduceat(row_sums, xs0, axis=1)[:, :9]  # (8,9,3)
        small = (box_sums @ _GRAY_W) / counts
    else:
        ys = (np.arange(9) * h // 9, (np.arange(9) + 1) * h // 9)
        xs = (np.arange(10) * w // 10, (np.arange(10) + 1) * w // 10)
        small = np.empty((8, 9))
        for r in range(8):
            y0, y1 = ys[0][r], max(ys[1][r], ys[0][r] + 1)
            for c in range(9):
                x0, x1 = xs[0][c], max(xs[1][c], xs[0][c] + 1)
                box = pixels[y0:y1, x0:x1].sum(axis=(0, 1), dtype=np.int64)
                small[r, c] = (box @ _GRAY_W) / ((y1 - y0) * (x1 - x0))
    bits = (small[:, 1:] > small[:, :-1]).flatten()
    v = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return v - (1 << 64) if v >= (1 << 63) else v


def phash64_batch(stack: np.ndarray, chunk: int = 1024) -> np.ndarray:
    """``phash64`` over a (B, h, w, 3) uint8 stack of SAME-SHAPE images,
    vectorized across the batch — bit-identical to mapping ``phash64`` over
    the images (the same float64 operations run in the same per-image order;
    ``test_phash_batch_bit_identical`` pins it). The per-image scalar path
    measured 51 us/image with ~70% of it fixed numpy call overhead; batching
    amortizes that across the Arrow batch. Chunked so the float64 gray
    intermediate stays bounded (~25 MB at the default chunk) regardless of
    Arrow batch size."""
    B, h, w, _ = stack.shape
    if h < 9 or w < 10:  # tiny-image fallback shares the scalar path
        return np.array([phash64(p) for p in stack], dtype=np.int64)
    ys0, xs0, counts = _box_idx(h, w)
    ye = np.append(ys0[1:], h)
    xe = np.append(xs0[1:], w)
    # Row sums fit uint16 when the tallest box sums < 2^16 (h up to ~2300);
    # np.sum over a sliced view is SIMD-vectorized where np.add.reduceat is
    # not (measured 16 vs 72 us/image on 64x64 batches). Box sums are exact
    # integers either way — identical to the scalar path's reduceat sums.
    row_dt = np.uint16 if 255 * int((ye - ys0).max()) < 65536 else np.int64
    out = np.empty(B, dtype=np.int64)
    for s in range(0, B, chunk):
        sub = stack[s : s + chunk]
        b = sub.shape[0]
        rs = np.empty((b, 8, w, 3), dtype=row_dt)
        for r in range(8):
            np.sum(sub[:, ys0[r] : ye[r]], axis=1, dtype=row_dt, out=rs[:, r])
        bs = np.empty((b, 8, 9, 3), dtype=np.int64)
        for c in range(9):
            np.sum(rs[:, :, xs0[c] : xe[c]], axis=2, out=bs[:, :, c])
        small = (bs @ _GRAY_W) / counts
        bits = (small[:, :, 1:] > small[:, :, :-1]).reshape(-1, 64)
        packed = np.packbits(bits, axis=1)  # (b, 8) big-endian bytes
        out[s : s + chunk] = packed.view(">u8").astype(np.uint64).reshape(-1).view(np.int64)
    return out


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)
