"""Multimodal plumbing: schema, Arrow-batched mapInPandas shape, stubbed
decode determinism."""

import pytest

from python_etl_rest_api_spark.operators.multimodal import (
    FEATURE_SCHEMA,
    extract_features,
    media_stats,
    synthesize_media,
)


@pytest.fixture(scope="module")
def media(spark):
    return synthesize_media(spark, n=30).cache()


def test_media_schema_roundtrip(spark, media, tmp_path):
    path = str(tmp_path / "media")
    media.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.schema["payload"].dataType.typeName() == "binary"
    assert back.count() == 30


def test_extract_features_shape(media):
    feats = extract_features(media)
    assert feats.schema == FEATURE_SCHEMA
    rows = feats.collect()
    assert len(rows) == 30
    for r in rows:
        assert len(r["feature"]) == 8
        assert abs(sum(r["feature"]) - 1.0) < 1e-6   # normalized histogram
        assert r["n_bytes"] >= 128


def test_extract_features_deterministic(media):
    a = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    b = {r["media_id"]: r["feature"] for r in extract_features(media).collect()}
    assert a == b


def test_media_stats_no_decode(media):
    stats = {r["kind"]: r["n"] for r in media_stats(media).collect()}
    assert sum(stats.values()) == 30
    assert set(stats) == {"image", "audio", "video"}


def test_wav_decode_real_roundtrip(spark):
    """The REAL codec path: stdlib wave encodes PCM16 payloads, the
    mapInPandas decoder reads header + frames back from the bytes."""
    import io
    import wave as wavmod

    from python_etl_rest_api_spark.operators.multimodal import (
        WAV_SAMPLE_RATE,
        decode_wav_features,
        synthesize_wav_media,
    )

    media = synthesize_wav_media(spark, n=12).cache()
    # payloads are genuine WAV files the stdlib reader accepts
    payload = media.filter("media_id = 3").collect()[0]["payload"]
    with wavmod.open(io.BytesIO(bytes(payload))) as w:
        assert w.getframerate() == WAV_SAMPLE_RATE
        assert w.getnchannels() == 1
        assert w.getnframes() == 64 + 3

    rows = {r["media_id"]: r for r in decode_wav_features(media).collect()}
    assert len(rows) == 12
    for i, r in rows.items():
        nf = 64 + i
        assert r["sample_rate"] == WAV_SAMPLE_RATE
        assert r["n_channels"] == 1
        assert r["n_frames"] == nf
        assert r["duration_us"] == nf * 1_000_000 // WAV_SAMPLE_RATE
        # closed-form amplitude check against the synthesis formula
        samples = [(((i * 31 + j * 7) % 256) - 128) * 256 for j in range(nf)]
        assert r["peak_amplitude"] == max(abs(s) for s in samples)
        assert r["total_abs_amplitude"] == sum(abs(s) for s in samples)


def test_bmp_decode_real_roundtrip(spark):
    """The REAL image codec path: struct-encoded 24-bpp BMP payloads,
    the mapInPandas decoder parses header + padded pixel rows back from
    the bytes and its sums match the closed-form synthesis formula."""
    from python_etl_rest_api_spark.operators.multimodal import (
        decode_bmp_features,
        synthesize_bmp_media,
    )

    media = synthesize_bmp_media(spark, n=10).cache()
    payload = bytes(media.filter("media_id = 4").collect()[0]["payload"])
    # genuine BMP: magic, 54-byte pixel offset, 24 bpp, row stride padded
    assert payload[:2] == b"BM"
    import struct as structmod
    off = structmod.unpack_from("<I", payload, 10)[0]
    w, h = structmod.unpack_from("<ii", payload, 18)
    bpp = structmod.unpack_from("<H", payload, 28)[0]
    assert (off, bpp) == (54, 24)
    assert (w, h) == (8 + 4 % 5, 6 + 4 % 3)
    assert len(payload) == 54 + ((w * 3 + 3) & ~3) * h

    rows = {r["media_id"]: r for r in decode_bmp_features(media).collect()}
    assert len(rows) == 10
    for i, r in rows.items():
        w, h = 8 + i % 5, 6 + i % 3
        px = [(i * 7 + x * 3 + y * 5) % 256
              for x in range(w) for y in range(h)]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["sum_blue"] == sum(px)
        assert r["sum_green"] == sum((v + 11) % 256 for v in px)
        assert r["sum_red"] == sum((v + 22) % 256 for v in px)
        assert r["peak_rgb"] == max(
            v + (v + 11) % 256 + (v + 22) % 256 for v in px)


def test_png_decode_real_roundtrip(spark):
    """The REAL compressed-image codec path: zlib-deflated PNG payloads
    with all five scanline filter types; the decoder walks chunks,
    inflates, reconstructs pixels through the filter inverses, and its
    sums match the closed-form synthesis formula."""
    import struct as structmod
    import zlib

    from python_etl_rest_api_spark.operators.multimodal import (
        decode_png_features,
        synthesize_png_media,
    )

    media = synthesize_png_media(spark, n=10).cache()
    payload = bytes(media.filter("media_id = 4").collect()[0]["payload"])
    # genuine PNG: signature, IHDR geometry, valid chunk CRCs, and the
    # scanline filters actually cycle through all five spec types
    assert payload[:8] == b"\x89PNG\r\n\x1a\n"
    assert payload[12:16] == b"IHDR"
    w, h = structmod.unpack_from(">II", payload, 16)
    assert (w, h) == (8 + 4 % 5, 6 + 4 % 3)
    pos, idat = 8, b""
    while pos < len(payload):
        (length,) = structmod.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + length]
        crc = structmod.unpack_from(">I", payload, pos + 8 + length)[0]
        assert zlib.crc32(ctype + data) & 0xFFFFFFFF == crc
        if ctype == b"IDAT":
            idat += data
        pos += 12 + length
    flat = zlib.decompress(idat)
    filters = [flat[y * (w * 3 + 1)] for y in range(h)]
    assert filters == [y % 5 for y in range(h)]

    rows = {r["media_id"]: r for r in decode_png_features(media).collect()}
    assert len(rows) == 10
    for i, r in rows.items():
        w, h = 8 + i % 5, 6 + i % 3
        px = [(i * 7 + x * 3 + y * 5) % 256
              for x in range(w) for y in range(h)]
        assert (r["width"], r["height"], r["n_pixels"]) == (w, h, w * h)
        assert r["sum_red"] == sum(px)
        assert r["sum_green"] == sum((v + 11) % 256 for v in px)
        assert r["sum_blue"] == sum((v + 22) % 256 for v in px)
        assert r["peak_rgb"] == max(
            v + (v + 11) % 256 + (v + 22) % 256 for v in px)


def test_png_decoder_rejects_non_png(spark):
    import pytest as _pytest

    from python_etl_rest_api_spark.operators.multimodal import _png_pixels

    with _pytest.raises(ValueError, match="not a PNG"):
        _png_pixels(b"BM" + bytes(64))


def test_jpeg_decode_real_roundtrip(spark):
    """The REAL lossy transform codec path: genuine baseline JPEG
    payloads (SOI/DQT/SOF0/DHT/SOS markers, DCT + Annex-K Huffman
    entropy coding); the decoder rebuilds pixels from the byte stream
    alone and, for the constant-block corpus (all signal in the DC
    term, uniform quant 8), matches the closed-form synthesis exactly."""
    from python_etl_rest_api_spark.operators.multimodal import (
        decode_jpeg_features,
        synthesize_jpeg_media,
    )

    media = synthesize_jpeg_media(spark, n=10).cache()
    payload = bytes(media.filter("media_id = 3").collect()[0]["payload"])
    # genuine JPEG container: SOI, DQT, SOF0, DHT, SOS markers in order
    assert payload[:2] == b"\xff\xd8" and payload[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xdb", b"\xff\xc0", b"\xff\xc4", b"\xff\xda"):
        assert marker in payload

    rows = {r["media_id"]: r for r in decode_jpeg_features(media).collect()}
    assert len(rows) == 10
    for i, r in rows.items():
        wb, hb = 2 + i % 3, 1 + i % 2
        vals = [(i * 13 + bx * 17 + by * 29) % 256
                for bx in range(wb) for by in range(hb)]
        assert (r["width"], r["height"]) == (8 * wb, 8 * hb)
        assert (r["n_pixels"], r["n_blocks"]) == (64 * wb * hb, wb * hb)
        assert r["sum_lum"] == 64 * sum(vals)
        assert r["peak_lum"] == max(vals)
    media.unpersist()


def test_jpeg_lossy_gradient_bounded():
    """The GENERAL lossy path (nonzero AC coefficients, real quant
    error): a smooth gradient survives encode->decode within the
    quantization error bound, proving the AC run-length/EXTEND
    machinery beyond the oracle's exact constant-block case."""
    from python_etl_rest_api_spark.operators.multimodal import (
        decode_jpeg_gray,
        encode_jpeg_gray,
    )

    w, h = 16, 16
    def pix(x, y):
        return x * 9 + y * 4          # smooth, max 195, no wraparound
    data = encode_jpeg_gray(w, h, pix, quant=8)
    dw, dh, n_pixels, n_blocks, total, peak = decode_jpeg_gray(data)
    assert (dw, dh, n_pixels, n_blocks) == (w, h, 256, 4)
    exact = sum(pix(x, y) for x in range(w) for y in range(h))
    # uniform quant 8 -> per-coefficient error <= 4; the IDCT spreads
    # it, mean |pixel error| well under 8. Bound: 8/pixel aggregate.
    assert abs(total - exact) <= 8 * w * h
    assert abs(peak - 195) <= 16


def test_jpeg_decoder_rejects_non_jpeg():
    import pytest as _pytest

    from python_etl_rest_api_spark.operators.multimodal import decode_jpeg_gray

    with _pytest.raises(ValueError, match="missing SOI"):
        decode_jpeg_gray(b"\x89PNG" + bytes(64))


def test_avi_frame_sampling_real_roundtrip(spark):
    """The REAL video path: genuine RIFF/AVI containers (hdrl/strl
    headers, movi '00db' DIB frames, idx1 index); frame sampling
    explodes each payload row into one row per sampled frame whose
    stats match the closed-form synthesis."""
    import struct as structmod

    from python_etl_rest_api_spark.operators.multimodal import (
        sample_avi_frames,
        synthesize_avi_media,
    )

    media = synthesize_avi_media(spark, n=8).cache()
    payload = bytes(media.filter("media_id = 5").collect()[0]["payload"])
    # genuine RIFF/AVI container with index
    assert payload[:4] == b"RIFF" and payload[8:12] == b"AVI "
    (riff_size,) = structmod.unpack_from("<I", payload, 4)
    assert riff_size == len(payload) - 8
    for fourcc in (b"avih", b"strh", b"strf", b"movi", b"00db", b"idx1"):
        assert fourcc in payload

    rows = sample_avi_frames(media, stride=2).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    assert len(by_media) == 8
    for i, rs in by_media.items():
        w, h, nf = 8 + 4 * (i % 3), 6 + i % 3, 6 + i % 5
        expect_frames = [f for f in range(nf) if f % 2 == 0]
        assert sorted(r["frame_idx"] for r in rs) == expect_frames
        for r in rs:
            f = r["frame_idx"]
            px = [(i * 7 + f * 31 + x * 3 + y * 5) % 256
                  for x in range(w) for y in range(h)]
            assert (r["width"], r["height"], r["n_frames"]) == (w, h, nf)
            assert r["sum_lum"] == sum(px)
            assert r["peak_lum"] == max(px)
    media.unpersist()


def test_avi_decoder_rejects_non_avi():
    import pytest as _pytest

    from python_etl_rest_api_spark.operators.multimodal import decode_avi_frames

    with _pytest.raises(ValueError, match="missing RIFF"):
        decode_avi_frames(b"\xff\xd8" + bytes(64))


def test_avi_stride_one_and_frame_count_guard():
    from python_etl_rest_api_spark.operators.multimodal import (
        decode_avi_frames,
        encode_avi_gray,
    )

    data = encode_avi_gray(8, 6, 4, lambda f, x, y: (f + x + y) % 256)
    out = decode_avi_frames(data, stride=1)
    assert [t[0] for t in out] == [0, 1, 2, 3]
    assert all(t[3] == 4 for t in out)


def test_resize_reencode_roundtrip(spark):
    """Resize must produce REAL decodable BMP payloads whose pixels are
    the exact integer 2x2 box means of the source, proven by decoding
    what resize re-encoded and checking the closed form."""
    from python_etl_rest_api_spark.operators.multimodal import (
        decode_bmp_features,
        resize_bmp_half,
        synthesize_bmp_media,
    )

    media = synthesize_bmp_media(spark, n=8)
    resized = resize_bmp_half(media).cache()
    # output payloads are genuine BMPs with the halved geometry
    r5 = resized.filter("media_id = 5").collect()[0]
    assert bytes(r5["payload"])[:2] == b"BM"
    assert (r5["meta"]["width"], r5["meta"]["height"]) == (
        (8 + 5 % 5) // 2, (6 + 5 % 3) // 2)
    rows = {r["media_id"]: r
            for r in decode_bmp_features(resized).collect()}
    for i, r in rows.items():
        w, h = 8 + i % 5, 6 + i % 3
        ow, oh = w // 2, h // 2

        def px(x, y, c):
            return (i * 7 + x * 3 + y * 5 + c) % 256

        def opx(ox, oy, c):
            return (px(2*ox, 2*oy, c) + px(2*ox+1, 2*oy, c)
                    + px(2*ox, 2*oy+1, c) + px(2*ox+1, 2*oy+1, c)) // 4

        assert (r["width"], r["height"]) == (ow, oh)
        assert r["sum_blue"] == sum(opx(x, y, 0)
                                    for x in range(ow) for y in range(oh))
        assert r["sum_green"] == sum(opx(x, y, 11)
                                     for x in range(ow) for y in range(oh))
        assert r["sum_red"] == sum(opx(x, y, 22)
                                   for x in range(ow) for y in range(oh))
    resized.unpersist()


def test_wav_energy_features_exact(spark):
    """ZCR + short-time energy from decoded PCM16 bytes must match the
    closed form of the synthesis formula exactly (integer DSP)."""
    from python_etl_rest_api_spark.operators.multimodal import (
        synthesize_wav_media,
        wav_energy_features,
    )

    rows = {r["media_id"]: r
            for r in wav_energy_features(
                synthesize_wav_media(spark, n=8)).collect()}
    assert len(rows) == 8
    for i, r in rows.items():
        nf = 64 + i
        s = [(((i * 31 + j * 7) % 256) - 128) * 256 for j in range(nf)]
        zc = sum(1 for j in range(1, nf) if s[j - 1] * s[j] < 0)
        fe = {}
        for j, v in enumerate(s):
            fe[j // 16] = fe.get(j // 16, 0) + v * v
        peak_idx = min((f for f in fe
                        if fe[f] == max(fe.values())))
        assert r["n_frames"] == (nf - 1) // 16 + 1
        assert r["zero_crossings"] == zc
        assert r["total_energy"] == sum(v * v for v in s)
        assert (r["peak_frame_idx"], r["peak_frame_energy"]) == (
            peak_idx, fe[peak_idx])


# sha256 over (8-byte little-endian length + bytes) of each payload of
# synthesize_<kind>_media(spark, n=48), in media_id order: the oracle
# corpora must not move when the encoders are rewritten.
SYNTH_PAYLOAD_SHA256 = {
    "bmp": "3303b249d01607635b0b8247a9505baa393fd6f592411ab75ff022eba6164cf8",
    "png": "54dbf08d369d5e6c9c8a18748f14e28b5ddb3f9af6d7abb4b598c43fd6ec5f24",
    "jpeg": "2b6fa793cd49825204d050865b62b00ff4577b74940ce66f937f3e8a7194e1c9",
    "gif": "17cf5516bf60e4ff01eb16ec40faf751ddcfbd562feb49aa7b930485739a4b73",
    "avi": "37c02a9dbf064459a6721ce719022fba593fc5922001a4bf4a8af2c7d85387f9",
    "wav": "b8c85c215c71d54e2db31ede2f5a8d24219bd87a502dcbb07d8c24c17dbcb950",
}


@pytest.mark.parametrize("kind", sorted(SYNTH_PAYLOAD_SHA256))
def test_synthesized_payloads_pinned(spark, kind):
    import hashlib

    from python_etl_rest_api_spark.operators import multimodal as mm

    media = getattr(mm, f"synthesize_{kind}_media")(spark, n=48)
    h = hashlib.sha256()
    for r in media.orderBy("media_id").select("payload").collect():
        p = bytes(r["payload"])
        h.update(len(p).to_bytes(8, "little") + p)
    assert h.hexdigest() == SYNTH_PAYLOAD_SHA256[kind]


def _null_cases():
    from python_etl_rest_api_spark.operators import multimodal as mm

    def feature(n):                     # 1->1: one all-null feature row
        return [(7,) + (None,) * n]

    return [
        pytest.param(mm.extract_features, [(7, "audio", None, None)],
                     id="extract_features"),
        pytest.param(mm.decode_wav_features, feature(6),
                     id="decode_wav_features"),
        pytest.param(mm.decode_bmp_features, feature(7),
                     id="decode_bmp_features"),
        pytest.param(mm.decode_png_features, feature(7),
                     id="decode_png_features"),
        pytest.param(mm.decode_jpeg_features, feature(6),
                     id="decode_jpeg_features"),
        pytest.param(mm.wav_energy_features, feature(5),
                     id="wav_energy_features"),
        pytest.param(mm.wht_band_energies, feature(2),
                     id="wht_band_energies"),
        pytest.param(lambda m: mm.wav_vad_segments(m, 100), feature(5),
                     id="wav_vad_segments"),
        pytest.param(mm.decode_gif_features, feature(5),
                     id="decode_gif_features"),
        pytest.param(lambda m: mm.wav_clipping_stats(m, -100, 100),
                     feature(3), id="wav_clipping_stats"),
        # 1->N: a null payload has no frames / pairs / scanlines
        pytest.param(mm.sample_avi_frames, [], id="sample_avi_frames"),
        pytest.param(mm.motion_energy, [], id="motion_energy"),
        pytest.param(mm.ahash_row_signatures, [],
                     id="ahash_row_signatures"),
        # payload rewriters: the null payload passes through
        pytest.param(mm.resize_bmp_half,
                     [(7, "audio", "audio/wav", None, None)],
                     id="resize_bmp_half"),
        pytest.param(mm.decimate_wav_half,
                     [(7, "audio", "audio/wav", None, (1, 2, 3))],
                     id="decimate_wav_half"),
    ]


@pytest.mark.parametrize("op, expected", _null_cases())
def test_null_payload_contract(spark, op, expected):
    """Every per-payload operator keeps its meaning for a null payload:
    a null feature row, no row, or the null passed through."""
    from python_etl_rest_api_spark.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(
        [(7, "audio", "audio/wav", None, (1, 2, 3))], MEDIA_SCHEMA)
    assert [tuple(r) for r in op(media).collect()] == expected
