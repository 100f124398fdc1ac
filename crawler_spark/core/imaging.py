"""Image kernel: PNG codec, deterministic fake lossy codec, pHash, PSNR.

Pure numpy + stdlib zlib — NO Spark imports. Used by the fixture
generator (render/encode), the oracle simulator (golden pixels), and —
wrapped in Arrow-batched ``mapInPandas`` UDFs — by the engine's image
decode/validate/phash stage (crawler_spark.operators.images).

The reference's image surface (SURVEY.md §1.3): image+caption pairs
(crawler-engine.ts:1414-1425, alt text ≙ caption) plus PNG screenshot
bytes (browser-session.ts:2531-2654); its time-window screenshot dedup
(browser-session.ts:2444-2473) generalizes to perceptual-hash dedup
over decoded pixels here.

Codec support in this sandbox (no PIL / libjpeg / libwebp available):

* ``png``  — REAL codec: RGB8, zlib-compressed, filter type 0, written
  and parsed from the public PNG spec. Lossless round-trip, bit-exact.
* ``jpeg`` / ``webp`` — STUB lossy codecs (clearly marked): a
  deterministic quantize-to-Q-levels transform (simulating lossy
  degradation with PSNR >= ~40 dB by construction) stored in a PNG
  container with a fmt tag. If PIL is installed the real codecs are
  used instead (``_HAVE_PIL`` gate below). The Spark-side plumbing —
  binary column, Arrow batches, UDF signatures, PSNR validation — is
  identical either way; only the byte transform is faked.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

try:  # real codecs if available (not in this container)
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False

_PNG_SIG = b"\x89PNG\r\n\x1a\n"

# Quantization step of the STUB lossy codec. Max per-pixel error is
# Q/2 = 2; worst-case MSE = (Q^2)/12 ≈ 1.33 → PSNR ≥ 46 dB, safely
# above the 40 dB invariant while still being genuinely lossy.
FAKE_LOSSY_Q = 4


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def png_encode(pixels: np.ndarray) -> bytes:
    """Encode HxWx3 uint8 array as a PNG (filter 0, fixed zlib level 6
    so output bytes are deterministic)."""
    if pixels.ndim != 3 or pixels.shape[2] != 3 or pixels.dtype != np.uint8:
        raise ValueError("png_encode expects HxWx3 uint8")
    h, w, _ = pixels.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), pixels.reshape(h, w * 3)], axis=1
    ).tobytes()
    idat = zlib.compress(raw, 6)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def png_decode(data: bytes) -> np.ndarray:
    """Decode an RGB8 PNG produced by :func:`png_encode` (filters 0-4
    supported) to an HxWx3 uint8 array."""
    if data[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = None
    idat = bytearray()
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype = struct.unpack(">IIBB", payload[:10])
            if depth != 8 or ctype != 2:
                raise ValueError("only 8-bit RGB PNGs supported")
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    raw = np.frombuffer(zlib.decompress(bytes(idat)), np.uint8)
    stride = w * 3 + 1
    rows = raw.reshape(h, stride)
    out = np.empty((h, w * 3), np.uint8)
    prev = np.zeros(w * 3, np.int32)
    for y in range(h):
        ftype = rows[y, 0]
        line = rows[y, 1:].astype(np.int32)
        if ftype == 0:
            rec = line
        elif ftype == 2:  # Up
            rec = (line + prev) & 0xFF
        else:
            # Sub/Average/Paeth need sequential scan
            rec = np.zeros(w * 3, np.int32)
            for x in range(w * 3):
                a = rec[x - 3] if x >= 3 else 0
                b = prev[x]
                c = prev[x - 3] if x >= 3 else 0
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) // 2
                elif ftype == 4:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad filter {ftype}")
                rec[x] = (line[x] + pred) & 0xFF
        out[y] = rec.astype(np.uint8)
        prev = rec
    return out.reshape(h, w, 3)


def fake_lossy_encode(pixels: np.ndarray, fmt: str) -> bytes:
    """STUB lossy codec for 'jpeg'/'webp' (no libjpeg/libwebp in this
    container): deterministic uniform quantization (step FAKE_LOSSY_Q)
    + a per-format channel rotation, stored in a PNG container. NOT a
    real JPEG/WEBP bitstream — a deterministic fake, as permitted for
    unavailable codecs; swap in PIL when present."""
    if _HAVE_PIL:
        raise NotImplementedError("PIL present: wire real codecs here")
    q = FAKE_LOSSY_Q
    quant = ((pixels.astype(np.int32) + q // 2) // q * q).clip(0, 255)
    if fmt == "webp":  # make the two fakes distinguishable
        quant = quant[:, :, ::-1]
    return b"FAKE" + fmt.encode("ascii").ljust(4) + png_encode(quant.astype(np.uint8))


def decode_image(data: bytes, fmt: str) -> np.ndarray:
    """Decode *data* of format *fmt* ('png'|'jpeg'|'webp') to HxWx3
    uint8 pixels. Dispatches real PNG vs the stub lossy container."""
    if data[:4] == b"FAKE":
        tag = data[4:8].rstrip().decode("ascii")
        px = png_decode(data[8:])
        if tag == "webp":
            px = px[:, :, ::-1]
        return px
    if fmt == "png" or data[:8] == _PNG_SIG:
        return png_decode(data)
    if _HAVE_PIL:
        raise NotImplementedError("PIL present: wire real codecs here")
    raise ValueError(f"undecodable image format {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB; inf for identical images."""
    if a.shape != b.shape:
        return float("-inf")
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def _dct_mat(n: int) -> np.ndarray:
    """Orthonormal DCT-II matrix (public transform; no scipy here)."""
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    m = np.cos(np.pi / n * (i + 0.5) * k)
    m[0] /= np.sqrt(2)
    return m * np.sqrt(2.0 / n)


_DCT32 = _dct_mat(32)


def phash64(pixels: np.ndarray) -> int:
    """64-bit perceptual hash (classic pHash construction, public
    algorithm): grayscale → 32x32 average-pool resize → 2D DCT-II →
    top-left 8x8 low-frequency block (minus DC) → median threshold →
    64-bit sign pattern. Returns SIGNED int64 (matches the fixture
    table's ``phash: int64`` column)."""
    gray = pixels.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    # average-pool to 32x32 via box resampling (deterministic, no PIL)
    ys = (np.arange(33) * h // 32).clip(1, h)
    xs = (np.arange(33) * w // 32).clip(1, w)
    ys[0] = 0
    xs[0] = 0
    csum = np.zeros((h + 1, w + 1))
    csum[1:, 1:] = gray.cumsum(0).cumsum(1)
    # vectorized box sums: same integer bounds and the same float
    # expression as the scalar double loop, element for element, so
    # the hash stays bit-identical to the fixture-precomputed values
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    area = (y1 - y0)[:, None] * (x1 - x0)[None, :]
    small = (csum[np.ix_(y1, x1)] - csum[np.ix_(y0, x1)]
             - csum[np.ix_(y1, x0)] + csum[np.ix_(y0, x0)]) / area
    d = _DCT32 @ small @ _DCT32.T
    block = d[:8, :8].flatten()
    med = np.median(block[1:])
    bits = (block > med).astype(np.uint8)
    bits[0] = 0  # drop DC term
    val = int.from_bytes(np.packbits(bits).tobytes(), "big")
    return val - (1 << 64) if val >= (1 << 63) else val


def hamming64(a: int, b: int) -> int:
    return bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")


def avgpool_resize(px: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Deterministic box-filter resize (pure numpy — the real
    transform, no codec needed). Shared by the thumbnail operator and
    the fixture generator (which precomputes thumbnail stats as the
    driver-oracle column)."""
    h, w, c = px.shape
    ys = (np.arange(out_h + 1) * h // out_h).clip(0, h)
    xs = (np.arange(out_w + 1) * w // out_w).clip(0, w)
    csum = np.zeros((h + 1, w + 1, c))
    csum[1:, 1:] = px.astype(np.float64).cumsum(0).cumsum(1)
    # vectorized box sums — identical bounds and float expression as
    # the scalar double loop, so outputs (and the fixture-precomputed
    # luma oracle column) are bit-identical
    y0, y1 = ys[:-1], np.maximum(ys[1:], ys[:-1] + 1)
    x0, x1 = xs[:-1], np.maximum(xs[1:], xs[:-1] + 1)
    area = ((y1 - y0)[:, None] * (x1 - x0)[None, :])[:, :, None]
    out = (csum[np.ix_(y1, x1)] - csum[np.ix_(y0, x1)]
           - csum[np.ix_(y1, x0)] + csum[np.ix_(y0, x0)]) / area
    return out.clip(0, 255).astype(np.uint8)


def mean_luma(px: np.ndarray) -> float:
    """Mean BT.601 luma of an (h, w, 3) pixel array, rounded to 4
    places: an exact integer sum of 299R + 587G + 114B and one division
    by 1000·h·w, so the rounding of a 4-place tie cannot depend on a
    float summation order. The thumbnail and frame-sample operators'
    summary stat, and the fixture generator's precomputed oracle
    column."""
    tot = int((px.astype(np.int64) @ np.array([299, 587, 114])).sum())
    return round(tot / (1000 * px.shape[0] * px.shape[1]), 4)


def render_image(image_id: str, w: int, h: int, noise_seed: int = 0,
                 noise_amp: int = 0) -> np.ndarray:
    """Deterministically render test pixels keyed by *image_id*:
    a gradient + sinusoid pattern whose phase/frequency derive from the
    id's hash, optionally perturbed by seeded uniform noise (for
    near-duplicate clusters). Pure function of its arguments."""
    from .xxhash64 import xxhash64 as _xx

    seed = _xx(image_id.encode("utf-8"), 0)
    f1 = 1 + (seed & 7)
    f2 = 1 + ((seed >> 3) & 7)
    p1 = (seed >> 6) & 255
    p2 = (seed >> 14) & 255
    yy = np.linspace(0, 1, h)[:, None]
    xx = np.linspace(0, 1, w)[None, :]
    r = 127.5 + 127.5 * np.sin(2 * np.pi * (f1 * xx + yy) + p1 / 40.0)
    g = 127.5 + 127.5 * np.sin(2 * np.pi * (f2 * yy - xx) + p2 / 40.0)
    b = (255 * (xx * 0.5 + yy * 0.5))
    px = np.stack([r, g, b], axis=2)
    if noise_amp > 0:
        rng = np.random.default_rng(noise_seed)
        px = px + rng.uniform(-noise_amp, noise_amp, px.shape)
    return px.clip(0, 255).astype(np.uint8)
