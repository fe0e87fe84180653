"""Property-based codec round trips (hypothesis): the stdlib codecs
must be identities (BMP/PNG/AVI/WAV are lossless) or bounded (JPEG is
quantized) on ARBITRARY pixel/sample content, not just the oracle
corpora's closed-form synthesis. Pure Python - no Spark session."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from python_etl_rest_api_spark.operators.multimodal import (
    _bmp_pixels,
    _encode_bmp,
    _encode_png,
    _png_pixels,
    _resize_half_box,
    _rgb_features,
    decode_avi_frames,
    decode_jpeg_gray,
    encode_avi_gray,
    encode_jpeg_gray,
)

dims = st.tuples(st.integers(1, 12), st.integers(1, 10))
seeds = st.integers(0, 2**31 - 1)


def _pix(seed):
    def f(x, y):
        return (seed * 31 + x * 7 + y * 13 + (x * y) % 17) % 256
    return f


def _grid(w, h, p):
    """Reference image as nested lists: grid[y][x] = 3 channel values."""
    return [[[p(x, y), (p(x, y) + 5) % 256, (p(x, y) + 9) % 256]
             for x in range(w)] for y in range(h)]


@settings(max_examples=30, deadline=None)
@given(dims, seeds)
def test_bmp_roundtrip_identity(wh, seed):
    w, h = wh
    grid = _grid(w, h, _pix(seed))
    px = _bmp_pixels(_encode_bmp(np.array(grid, np.uint8)))
    assert px.shape == (h, w, 3)
    assert px.tolist() == grid


@settings(max_examples=30, deadline=None)
@given(dims, seeds)
def test_png_roundtrip_identity(wh, seed):
    w, h = wh
    p = _pix(seed)
    payload = _encode_png(np.array(_grid(w, h, p), np.uint8))
    out = _rgb_features(_png_pixels(payload))
    # features are (w, h, n_pixels, sum_r, sum_g, sum_b, peak)
    assert out[0] == w and out[1] == h
    assert out[3] == sum(p(x, y) for x in range(w) for y in range(h))


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 3), st.integers(1, 2), st.integers(1, 6), seeds)
def test_jpeg_constant_blocks_exact(wb, hb, nf_unused, seed):
    """Constant 8x8 blocks with uniform quant 8 are LOSSLESS through
    the full DCT/Huffman pipeline for any block values."""
    p = _pix(seed)
    w, h = 8 * wb, 8 * hb
    payload = encode_jpeg_gray(
        w, h, lambda x, y: p(x // 8, y // 8))
    dw, dh, npix, nblk, total, peak = decode_jpeg_gray(payload)
    vals = [p(bx, by) for bx in range(wb) for by in range(hb)]
    assert (dw, dh, nblk) == (w, h, wb * hb)
    assert total == 64 * sum(vals)
    assert peak == max(vals)


@settings(max_examples=15, deadline=None)
@given(st.integers(1, 2), st.integers(1, 2), seeds)
def test_jpeg_general_bounded(wb, hb, seed):
    """Arbitrary (non-constant) content decodes within the uniform
    quantization error bound."""
    p = _pix(seed)
    w, h = 8 * wb, 8 * hb
    payload = encode_jpeg_gray(w, h, p)
    _, _, _, _, total, _ = decode_jpeg_gray(payload)
    exact = sum(p(x, y) for x in range(w) for y in range(h))
    # worst-case per-pixel reconstruction error for q=8 stays far
    # below 32; clamping can only pull values toward the true range
    assert abs(total - exact) <= 32 * w * h


@settings(max_examples=20, deadline=None)
@given(st.integers(1, 13), st.integers(1, 9), st.integers(1, 6), seeds)
def test_avi_roundtrip_identity(w, h, nf, seed):
    # arbitrary width exercises the 4-byte DIB row padding path
    p = _pix(seed)
    payload = encode_avi_gray(
        w, h, nf, lambda f, x, y: (p(x, y) + 11 * f) % 256)
    out = decode_avi_frames(payload, stride=1)
    assert [t[0] for t in out] == list(range(nf))
    for f, fw, fh, tot_frames, s, peak in out:
        vals = [(p(x, y) + 11 * f) % 256
                for x in range(w) for y in range(h)]
        assert (fw, fh, tot_frames) == (w, h, nf)
        assert s == sum(vals) and peak == max(vals)


@settings(max_examples=30, deadline=None)
@given(dims, seeds)
def test_resize_is_exact_box_mean(wh, seed):
    w, h = wh
    grid = _grid(w, h, _pix(seed))
    out = _resize_half_box(np.array(grid, np.uint8))
    ow, oh = w // 2, h // 2
    assert out.shape == (oh, ow, 3)
    for oy in range(oh):
        for ox in range(ow):
            for c in range(3):
                exp = (grid[2*oy][2*ox][c] + grid[2*oy][2*ox+1][c]
                       + grid[2*oy+1][2*ox][c]
                       + grid[2*oy+1][2*ox+1][c]) // 4
                assert out[oy][ox][c] == exp


@given(dims, seeds)
@settings(max_examples=40, deadline=None)
def test_gif_roundtrip_identity(wh, seed):
    """GIF is palette-lossless: decode(encode(img)) must reproduce the
    exact luminance stats for arbitrary pixel content, including inputs
    that force LZW width bumps."""
    from python_etl_rest_api_spark.operators.multimodal import (
        _decode_gif, encode_gif_gray,
    )
    w, h = wh
    pix = _pix(seed)
    payload = encode_gif_gray(w, h, pix)
    gw, gh, npx, sl, pk = _decode_gif(payload)
    want = [pix(x, y) for y in range(h) for x in range(w)]
    assert (gw, gh, npx) == (w, h, w * h)
    assert sl == sum(want) and pk == max(want)


@given(st.binary(min_size=0, max_size=1200), st.integers(2, 8))
@settings(max_examples=60, deadline=None)
def test_gif_lzw_raw_roundtrip(data, mcs):
    """The raw LZW coder is an identity for any byte stream whose
    symbols fit the min code size, across every GIF-legal width."""
    from python_etl_rest_api_spark.operators.multimodal import (
        _lzw_decode_gif, _lzw_encode_gif,
    )
    lim = 1 << mcs
    clipped = bytes(b % lim for b in data)
    assert _lzw_decode_gif(_lzw_encode_gif(clipped, mcs), mcs) == clipped
