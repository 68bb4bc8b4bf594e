"""PNG codec, phash, and fixture-generator determinism."""

import numpy as np
import pyarrow.parquet as pq
import pytest

from goribot_spark.functions.pngcodec import decode_png, encode_png, phash64, psnr
from goribot_spark.sources.fixtures import generate_all, generate_images


def test_png_roundtrip_exact():
    rng = np.random.default_rng(7)
    for shape in [(8, 8, 3), (17, 31, 3), (64, 9, 3)]:
        px = rng.integers(0, 256, shape, dtype=np.uint8)
        assert (decode_png(encode_png(px)) == px).all()


def test_png_rejects_garbage():
    with pytest.raises(ValueError):
        decode_png(b"not a png at all")


def test_phash_deterministic_and_locality():
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    assert phash64(px) == phash64(px.copy())
    # Small perturbation → small hamming distance; different image → large.
    near = px.copy()
    near[0, 0] = 0
    far = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(phash64(px), phash64(near)) <= 8
    assert ham(phash64(px), phash64(far)) > 8


def test_phash_batch_bit_identical():
    """The batched phash (what decode_image_udf runs per Arrow batch) must
    be bit-identical to the scalar phash64 (what the fixture generator and
    the scalar decode path run) — the crawl's payload verification compares
    engine-computed phash against fixture-stored phash row by row. Covers
    the tiny-image fallback, non-divisible box grids, the uint16→int64 row-
    sum dtype switch (h>2300), chunk boundaries, and near-flat tie-prone
    images."""
    from goribot_spark.functions.pngcodec import phash64_batch

    rng = np.random.default_rng(11)
    for h, w in [(64, 64), (9, 10), (8, 10), (5, 5), (33, 47), (2400, 12)]:
        imgs = [rng.integers(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(7)]
        imgs += [
            (128 + rng.integers(0, 2, (h, w, 3))).astype(np.uint8) for _ in range(3)
        ]
        assert [phash64(p) for p in imgs] == phash64_batch(np.stack(imgs)).tolist()
    # chunk boundary: batch larger than one chunk
    imgs = [rng.integers(0, 256, (16, 16, 3), dtype=np.uint8) for _ in range(70)]
    assert (
        phash64_batch(np.stack(imgs), chunk=32).tolist()
        == [phash64(p) for p in imgs]
    )


def test_unfilter_all_filter_types_roundtrip():
    """decode_png must invert every standard PNG filter type (0-4), both on
    the all-filter-0 vectorized fast path and the general per-line path —
    pinned against a spec-side filterer so the fast path can never drift."""
    import struct
    import zlib

    from goribot_spark.functions.pngcodec import _SIG, _chunk

    rng = np.random.default_rng(5)

    def filt(img, ftypes):
        h, w, c = img.shape
        stride = w * c
        flat = img.reshape(h, stride).astype(np.int32)
        raw = b""
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            line, ft = flat[y], int(ftypes[y])
            if ft == 0:
                enc = line
            elif ft == 1:
                left = np.concatenate([np.zeros(c, dtype=np.int32), line[:-c]])
                enc = (line - left) & 0xFF
            elif ft == 2:
                enc = (line - prev) & 0xFF
            elif ft == 3:
                enc = np.empty(stride, dtype=np.int32)
                for i in range(stride):
                    left = line[i - c] if i >= c else 0
                    enc[i] = (line[i] - ((left + prev[i]) >> 1)) & 0xFF
            else:  # Paeth
                enc = np.empty(stride, dtype=np.int32)
                for i in range(stride):
                    a = line[i - c] if i >= c else 0
                    b = prev[i]
                    cc = prev[i - c] if i >= c else 0
                    p = a + b - cc
                    pa, pb, pc_ = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc_) else (b if pb <= pc_ else cc)
                    enc[i] = (line[i] - pred) & 0xFF
            raw += bytes([ft]) + bytes(enc.astype(np.uint8))
            prev = line
        return raw

    def mkpng(img, ftypes):
        h, w, _ = img.shape
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            _SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(filt(img, ftypes)))
            + _chunk(b"IEND", b"")
        )

    for _ in range(8):
        h, w = int(rng.integers(2, 24)), int(rng.integers(2, 24))
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        fts = rng.integers(0, 5, h)
        assert (decode_png(mkpng(img, fts)) == img).all()
    # all-zero (fast path) and single-filter images
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    for ft in range(5):
        assert (decode_png(mkpng(img, np.full(16, ft))) == img).all()


def test_psnr():
    a = np.zeros((8, 8, 3), dtype=np.uint8)
    assert psnr(a, a) == float("inf")
    b = a.copy()
    b[0, 0, 0] = 10
    assert psnr(a, b) > 40


def test_images_deterministic():
    t1 = generate_images(16, seed=42)
    t2 = generate_images(16, seed=42)
    assert t1.equals(t2)
    assert not generate_images(16, seed=43).equals(t1)


def test_fixture_graph_shape(tmp_path):
    d = str(tmp_path / "g")
    generate_all(d, n_hosts=2, depth=2, n_images=16)
    pages = pq.read_table(f"{d}/pages.parquet").to_pylist()
    # site0 hot host: fanout 4 → 21 pages; site1 fanout 3 → 13.
    hosts = {}
    for p in pages:
        hosts[p["host"]] = hosts.get(p["host"], 0) + 1
    assert hosts == {"site0.test": 21, "site1.test": 13}
    # Every page decodes/parses deterministically and url_hash is consistent.
    from goribot_spark.canon import url_hash

    for p in pages[:10]:
        assert p["url_hash"] == url_hash(p["url"])


def test_png_zlib_bomb_bounded():
    """An 8x8 RGB PNG whose IDAT inflates to 64 MB must end as a decode
    error without the worker ever holding the inflated bytes: decode_png
    inflates at most one byte past the size IHDR implies."""
    import struct
    import tracemalloc
    import zlib

    from goribot_spark.functions.imaging import decode_image_bytes
    from goribot_spark.functions.pngcodec import _SIG, _chunk

    co = zlib.compressobj(9)
    zeros = bytes(1 << 20)
    idat = b"".join(co.compress(zeros) for _ in range(64)) + co.flush()
    ihdr = struct.pack(">IIBBBBB", 8, 8, 8, 2, 0, 0, 0)
    bomb = _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")
    assert len(bomb) < 1 << 17

    tracemalloc.start()
    try:
        w, h, fmt, ph, err = decode_image_bytes(bomb)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert err is not None and err.startswith("decode_error:")
    assert (w, h, ph) == (None, None, None)
    assert peak < 4 << 20, peak


def test_png_size_mismatches_are_decode_errors():
    """IHDR over the pixel cap, IDAT inflating short or long, and a zlib
    stream cut before its end each give a decode error, not an exception."""
    import struct
    import zlib

    from goribot_spark.functions.imaging import decode_image_bytes
    from goribot_spark.functions.pngcodec import _SIG, _chunk

    def png(w, h, idat):
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")

    raw = bytes(8 * (1 + 8 * 3))
    assert decode_image_bytes(png(8, 8, zlib.compress(raw)))[:2] == (8, 8)
    for bad in [
        png(65535, 65535, zlib.compress(raw)),
        png(8, 8, zlib.compress(raw[:-1])),
        png(8, 8, zlib.compress(raw + b"\0")),
        png(8, 8, zlib.compress(raw)[:-4]),
    ]:
        err = decode_image_bytes(bad)[4]
        assert err is not None and err.startswith("decode_error:"), err
