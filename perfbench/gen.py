"""Seeded input generators with their expected outputs.

Every generator returns the inputs the program receives plus the
answers the benchmark checks the program's outputs against. The
answers come from the generator's own bookkeeping (which defects it
injected, which pixels it drew), never from the program under test.
"""

from __future__ import annotations

import datetime as dt
import random
import struct
import zlib
from collections import Counter, defaultdict
from dataclasses import dataclass, field

import numpy as np

# ---------------------------------------------------------------------
# Dirty payments CSV (the /etl/run input)
# ---------------------------------------------------------------------

CSV_HEADER = "id,name,company_id,amount,status,created_at,paid_at\n"
EPOCH = dt.date(2019, 1, 1)
STATUSES = ("paid", " PAID ", "pending_payment", "voided", "Refunded")

# Defect mix, as (reason code, share of rows). Each defective row carries
# exactly one defect, so the per-reason counts are exact. "blank_name"
# is not quarantined: the clean tier imputes the company's first valid
# name.
DEFECTS = (
    ("missing_id", 0.010),
    ("missing_company_id", 0.008),
    ("invalid_amount", 0.012),
    ("missing_created_at", 0.010),
    ("blank_name", 0.030),
)
CRITICAL_REASONS = ("missing_id", "missing_company_id", "invalid_amount",
                    "missing_created_at")


@dataclass
class Charges:
    """One generated CSV and what the ETL must make of it."""
    text: str
    rows: int
    critical: int
    reasons: dict[str, int]
    companies: int
    # (company_name, iso date) -> total cents over the clean rows
    totals: dict[tuple[str, str], int] = field(repr=False)


def charges_csv(seed: int, rows: int, companies: int, days: int) -> Charges:
    rng = random.Random(seed)
    names = [f"Company {seed % 997:03d}-{k:03d}" for k in range(companies)]
    cids = [f"c{seed % 9973:04x}{k:04x}" for k in range(companies)]
    weights = [share for _, share in DEFECTS]
    kinds = [kind for kind, _ in DEFECTS] + ["ok"]
    weights.append(1.0 - sum(weights))
    drawn = rng.choices(kinds, weights, k=rows)

    lines = [CSV_HEADER]
    reasons: Counter = Counter()
    totals: dict[tuple[str, str], int] = defaultdict(int)
    named: set[int] = set()      # companies with a valid name in a clean row
    clean_companies: set[int] = set()
    for i, kind in enumerate(drawn):
        k = rng.randrange(companies)
        cents = rng.randrange(1, 500_000)
        day = EPOCH + dt.timedelta(days=rng.randrange(days))
        row_id = f"ch{seed:x}x{i:07d}"
        if rng.random() < 0.05:
            row_id = f" {row_id.upper()} "      # normalised by trim + lower
        name = names[k]
        cid = cids[k]
        amount = f"{cents // 100}.{cents % 100:02d}"
        created = day.isoformat()
        paid = (day + dt.timedelta(days=1)).isoformat() \
            if rng.random() < 0.5 else ""
        if kind == "missing_id":
            row_id = rng.choice(("", "nan"))
        elif kind == "missing_company_id":
            cid = rng.choice(("", "nan"))
        elif kind == "invalid_amount":
            amount = rng.choice(("abc", "", "3.0e213231213123"))
        elif kind == "missing_created_at":
            # strict yyyy-MM-dd parsing (the reference's pandas format
            # inference) rejects both spellings
            created = rng.choice((day.strftime("%Y%m%d"),
                                  day.isoformat() + "T00:00:00"))
        elif kind == "blank_name":
            name = rng.choice(("", "nan"))
        if kind in CRITICAL_REASONS:
            reasons[kind] += 1
        else:
            clean_companies.add(k)
            if kind != "blank_name":
                named.add(k)
            totals[(k, created)] += cents
        lines.append(",".join((row_id, name, cid, amount,
                               STATUSES[i % len(STATUSES)], created, paid))
                     + "\n")
    # imputation gives a blank-name row its company's first valid name,
    # and "unknown" to a company that has none in the clean tier
    resolved: dict[tuple[str, str], int] = defaultdict(int)
    for (k, day), c in totals.items():
        resolved[(names[k] if k in named else "unknown", day)] += c
    return Charges(text="".join(lines), rows=rows,
                   critical=sum(reasons.values()),
                   reasons={r: reasons[r] for r in CRITICAL_REASONS},
                   companies=len(clean_companies), totals=dict(resolved))


def orders_customer(seed: int, totals: dict[tuple[str, str], int]):
    """The same per-(company, date) totals as ``orders`` and ``customer``
    columns in the dataset layout of the catalog's readers (TESTDATA.md),
    with the column types of the test datasets. Each total is split
    over up to three orders at seeded times of its day, so the catalog's
    ``daily_company_totals`` over them equals ``totals``."""
    rng = random.Random(seed ^ 0x0D5)
    names = sorted({name for name, _ in totals})
    key = {name: k + 1 for k, name in enumerate(names)}
    customer = {"c_custkey": [key[n] for n in names], "c_name": names,
                "c_nationkey": [k % 25 for k in range(len(names))],
                "c_acctbal": [float(k) for k in range(len(names))],
                "c_mktsegment": ["BUILDING"] * len(names)}
    orders: dict[str, list] = {c: [] for c in (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")}
    for (name, day), cents in sorted(totals.items()):
        parts = min(cents, rng.randint(1, 3))
        cuts = sorted(rng.sample(range(1, cents), parts - 1)) \
            if parts > 1 else []
        bounds = [0] + cuts + [cents]
        midnight = dt.datetime.fromisoformat(day)
        for lo, hi in zip(bounds, bounds[1:]):
            orders["o_orderkey"].append(len(orders["o_orderkey"]) + 1)
            orders["o_custkey"].append(key[name])
            orders["o_orderstatus"].append("F")
            orders["o_totalprice"].append((hi - lo) / 100)
            orders["o_orderdate"].append(
                midnight + dt.timedelta(seconds=rng.randrange(86_400)))
            orders["o_orderpriority"].append("3-MEDIUM")
    return orders, customer


# ---------------------------------------------------------------------
# Synthetic images (the multimodal decode input)
# ---------------------------------------------------------------------
#
# The images are encoded here with numpy rather than with the package's
# own encoders (``encode_jpeg_gray`` and the per-pixel-callback BMP/PNG
# helpers of operators/multimodal.py). At 256x256 on a 4-core box the
# package took 40 ms per BMP, 131 ms per PNG and 1.0 s per JPEG against
# 8, 26 and 4 ms here: about 10 s per staging of the media set instead
# of 1.2 s, and staging runs three times inside setup_s. Encoding apart
# from the program under test also keeps a shared encoder bug from
# passing its own decoder's check.

@dataclass
class Image:
    media_id: int
    mime: str
    payload: bytes
    width: int
    height: int
    expected: tuple        # the decoder's feature tuple, from the pixels


def _channels(rng: random.Random, w: int, h: int) -> np.ndarray:
    """(h, w, 3) uint8 pixels: per-channel affine ramps mod 256 plus a
    seeded speckle, so neither PNG filters nor zlib flatten the image."""
    x = np.arange(w, dtype=np.int32)[None, :]
    y = np.arange(h, dtype=np.int32)[:, None]
    img = np.empty((h, w, 3), np.uint8)
    for ch in range(3):
        a, b, c = (rng.randrange(256) for _ in range(3))
        img[..., ch] = (a + b * x + c * y) % 256
    noise = np.random.default_rng(rng.randrange(2 ** 32)).integers(
        0, 16, size=img.shape, dtype=np.uint8)
    return img + noise        # uint8 arithmetic wraps mod 256


def _sums(pix: np.ndarray) -> tuple[int, int, int, int]:
    s0, s1, s2 = (int(v) for v in pix.sum(axis=(0, 1), dtype=np.int64))
    return s0, s1, s2, int(pix.sum(axis=-1, dtype=np.int32).max())


def bmp_image(media_id: int, rng: random.Random, side: int) -> Image:
    """24-bpp bottom-up BMP; pixel channels are stored B, G, R."""
    bgr = _channels(rng, side, side)
    row = side * 3
    stride = (row + 3) & ~3
    body = np.zeros((side, stride), np.uint8)
    body[:, :row] = bgr[::-1].reshape(side, row)
    size = stride * side
    payload = (struct.pack("<2sIHHI", b"BM", 54 + size, 0, 0, 54)
               + struct.pack("<IiiHHIIiiII", 40, side, side, 1, 24, 0, size,
                             2835, 2835, 0, 0)
               + body.tobytes())
    sb, sg, sr, peak = _sums(bgr)
    return Image(media_id, "image/bmp", payload, side, side,
                 (side, side, side * side, sb, sg, sr, peak))


def _png_filter(raw: np.ndarray, prev: np.ndarray, kind: int) -> np.ndarray:
    """PNG scanline filter ``kind`` (spec 9.2) over one RGB row."""
    r = raw.astype(np.int64)
    up = prev.astype(np.int64)
    left = np.concatenate([np.zeros(3, np.int64), r[:-3]])
    upleft = np.concatenate([np.zeros(3, np.int64), up[:-3]])
    if kind == 0:
        pred = np.zeros_like(r)
    elif kind == 1:
        pred = left
    elif kind == 2:
        pred = up
    elif kind == 3:
        pred = (left + up) // 2
    else:
        p = left + up - upleft
        pa, pb, pc = np.abs(p - left), np.abs(p - up), np.abs(p - upleft)
        pred = np.where((pa <= pb) & (pa <= pc), left,
                        np.where(pb <= pc, up, upleft))
    return ((r - pred) % 256).astype(np.uint8)


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF))


def png_image(media_id: int, rng: random.Random, side: int) -> Image:
    """8-bit truecolour PNG; scanline y uses filter y % 5, so a decoder
    must implement all five unfilters."""
    rgb = _channels(rng, side, side)
    rows = rgb.reshape(side, side * 3)
    prev = np.zeros(side * 3, np.uint8)
    out = bytearray()
    for y in range(side):
        out.append(y % 5)
        out += _png_filter(rows[y], prev, y % 5).tobytes()
        prev = rows[y]
    payload = (b"\x89PNG\r\n\x1a\n"
               + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", side, side,
                                                 8, 2, 0, 0, 0))
               + _png_chunk(b"IDAT", zlib.compress(bytes(out)))
               + _png_chunk(b"IEND", b""))
    sr, sg, sb, peak = _sums(rgb)
    return Image(media_id, "image/png", payload, side, side,
                 (side, side, side * side, sr, sg, sb, peak))


# ITU T.81 Annex K.3 luminance DC table. The AC table holds a single
# symbol, end-of-block: every 8x8 block is constant, so all its signal
# sits in the DC coefficient and survives quantisation by 8 exactly.
_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
_DC_VALS = tuple(range(12))
_AC_BITS = (1,) + (0,) * 15
_AC_VALS = (0,)


def _canonical(bits, vals) -> dict[int, tuple[int, int]]:
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def jpeg_image(media_id: int, rng: random.Random, side: int) -> Image:
    """Baseline greyscale JPEG made of constant 8x8 blocks, quantised by 8."""
    n = side // 8
    blocks = [rng.randrange(256) for _ in range(n * n)]
    dc = _canonical(_DC_BITS, _DC_VALS)
    eob_code, eob_len = _canonical(_AC_BITS, _AC_VALS)[0]
    acc, nbits, prev = 0, 0, 0
    for v in blocks:
        diff = (v - 128) - prev      # DC coefficient = 8*(v-128), /8 quant
        prev = v - 128
        t = abs(diff).bit_length()
        code, length = dc[t]
        acc = (acc << length) | code
        nbits += length
        if t:
            acc = (acc << t) | (diff if diff > 0 else diff + (1 << t) - 1)
            nbits += t
        acc = (acc << eob_len) | eob_code
        nbits += eob_len
    pad = -nbits % 8
    acc = (acc << pad) | ((1 << pad) - 1)
    scan = acc.to_bytes((nbits + pad) // 8, "big").replace(b"\xff",
                                                            b"\xff\x00")

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    payload = (b"\xFF\xD8"
               + seg(0xDB, bytes([0]) + bytes([8] * 64))
               + seg(0xC0, struct.pack(">BHHB", 8, side, side, 1)
                     + bytes([1, 0x11, 0]))
               + seg(0xC4, bytes([0x00]) + bytes(_DC_BITS) + bytes(_DC_VALS))
               + seg(0xC4, bytes([0x10]) + bytes(_AC_BITS) + bytes(_AC_VALS))
               + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
               + scan + b"\xFF\xD9")
    return Image(media_id, "image/jpeg", payload, side, side,
                 (side, side, side * side, n * n, 64 * sum(blocks),
                  max(blocks)))


def images(seed: int, counts: dict[str, int], side: int) -> list[Image]:
    """``counts`` images of each kind ("bmp", "png", "jpeg"), ids dense."""
    rng = random.Random(seed)
    makers = {"bmp": bmp_image, "png": png_image, "jpeg": jpeg_image}
    out: list[Image] = []
    for kind, n in counts.items():
        for _ in range(n):
            out.append(makers[kind](len(out), rng, side))
    return out
