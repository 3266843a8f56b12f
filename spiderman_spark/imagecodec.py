"""Pure numpy + stdlib image codecs for the synthetic image corpus.

The sandbox has no Pillow, so the corpus restricts itself to three formats
that are en/decodable with numpy + zlib (a fixture choice, not an engine
limitation — see SURVEY.md §7.3.4):

- ``rgb8``: raw interleaved RGB bytes with a tiny header (lossless).
- ``png``:  real PNG (8-bit RGB, filter 0) via stdlib zlib (lossless).
- ``qjpg``: a quantized lossy stand-in for JPEG — pixel values rounded to a
  quantization step then zlib-compressed.  With step=4 the reconstruction
  PSNR is ~47 dB, comfortably above the 40 dB invariant from
  BASELINE.json:15 (`input_hint`).

Also provides the deterministic ground-truth pixel/caption generators and the
64-bit average-hash ``phash`` used for the per-row image invariants
(reference parity target: the attachment downloader ``download.py:107-146``
writes bytes + metadata; we verify decoded pixels instead).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

import numpy as np

FORMATS = ("rgb8", "png", "qjpg")
QJPG_STEP = 4  # quantization step → PSNR ≈ 10*log10(255^2*12/(step^2-1)) ≈ 47 dB

_MAGIC_RGB8 = b"RGB8"
_MAGIC_QJPG = b"QJPG"
_PNG_SIG = b"\x89PNG\r\n\x1a\n"

_CAPTION_WORDS = (
    "a the one small large bright dark red blue green gray golden quiet busy "
    "photo picture view scene close-up panorama of showing with beside near "
    "house room kitchen garden street bridge river mountain tree car boat "
    "window door roof wall floor lamp table chair plant cloud sky field"
).split()


def _seed_for(seed: int, key: str) -> int:
    digest = hashlib.md5(f"{seed}:{key}".encode()).hexdigest()
    return int(digest[:8], 16)


def gen_pixels(seed: int, image_id: str, w: int, h: int) -> np.ndarray:
    """Deterministic ground-truth pixels: gradient + seeded noise, uint8 (h,w,3)."""
    rng = np.random.RandomState(_seed_for(seed, f"px:{image_id}"))
    yy, xx = np.mgrid[0:h, 0:w]
    base = np.stack(
        [
            (xx * 255 // max(w - 1, 1)),
            (yy * 255 // max(h - 1, 1)),
            ((xx + yy) * 255 // max(w + h - 2, 1)),
        ],
        axis=-1,
    ).astype(np.int16)
    noise = rng.randint(-32, 33, size=(h, w, 3), dtype=np.int16)
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def gen_caption(seed: int, image_id: str) -> str:
    rng = np.random.RandomState(_seed_for(seed, f"cap:{image_id}"))
    n = 5 + int(rng.randint(0, 8))
    words = [_CAPTION_WORDS[int(i)] for i in rng.randint(0, len(_CAPTION_WORDS), n)]
    return " ".join(words)


def gen_dims(seed: int, image_id: str, lo: int = 16, hi: int = 64) -> tuple[int, int]:
    rng = np.random.RandomState(_seed_for(seed, f"dim:{image_id}"))
    w = int(rng.randint(lo, hi + 1))
    h = int(rng.randint(lo, hi + 1))
    return w, h


def pick_fmt(seed: int, image_id: str) -> str:
    return FORMATS[_seed_for(seed, f"fmt:{image_id}") % len(FORMATS)]


# ---------------------------------------------------------------- encoders

def encode_rgb8(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    return _MAGIC_RGB8 + struct.pack(">II", w, h) + px.tobytes()


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    raw = tag + data
    return struct.pack(">I", len(data)) + raw + struct.pack(">I", zlib.crc32(raw))


def encode_png(px: np.ndarray) -> bytes:
    h, w, _ = px.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)  # 8-bit, color type 2 (RGB)
    rows = np.concatenate(
        [np.zeros((h, 1), dtype=np.uint8), px.reshape(h, w * 3)], axis=1
    )  # filter byte 0 per row
    idat = zlib.compress(rows.tobytes(), 9)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", idat)
        + _png_chunk(b"IEND", b"")
    )


def encode_qjpg(px: np.ndarray, step: int = QJPG_STEP) -> bytes:
    h, w, _ = px.shape
    q = np.clip((px.astype(np.int32) + step // 2) // step, 0, 255 // step).astype(np.uint8)
    return _MAGIC_QJPG + struct.pack(">IIB", w, h, step) + zlib.compress(q.tobytes(), 9)


def encode(px: np.ndarray, fmt: str) -> bytes:
    if fmt == "rgb8":
        return encode_rgb8(px)
    if fmt == "png":
        return encode_png(px)
    if fmt == "qjpg":
        return encode_qjpg(px)
    raise ValueError(f"unknown fmt {fmt!r}")


# ---------------------------------------------------------------- decoders

def decode_rgb8(data: bytes) -> np.ndarray:
    assert data[:4] == _MAGIC_RGB8
    w, h = struct.unpack(">II", data[4:12])
    return np.frombuffer(data[12:], dtype=np.uint8).reshape(h, w, 3)


def decode_png(data: bytes) -> np.ndarray:
    assert data[:8] == _PNG_SIG, "not a PNG"
    pos, w = 8, 0
    idat = b""
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        if tag == b"IHDR":
            w, h, bit, ctype = struct.unpack(">IIBB", body[:10])
            assert bit == 8 and ctype == 2, "decoder supports 8-bit RGB only"
        elif tag == b"IDAT":
            idat += body
        pos += 12 + length
    rows = np.frombuffer(zlib.decompress(idat), dtype=np.uint8).reshape(h, w * 3 + 1)
    filters = rows[:, 0]
    assert (filters == 0).all(), "decoder supports filter 0 only"
    return rows[:, 1:].reshape(h, w, 3).copy()


def decode_qjpg(data: bytes) -> np.ndarray:
    assert data[:4] == _MAGIC_QJPG
    w, h, step = struct.unpack(">IIB", data[4:13])
    q = np.frombuffer(zlib.decompress(data[13:]), dtype=np.uint8).reshape(h, w, 3)
    return np.clip(q.astype(np.int32) * step, 0, 255).astype(np.uint8)


def decode(data: bytes, fmt: str) -> np.ndarray:
    if fmt == "rgb8":
        return decode_rgb8(data)
    if fmt == "png":
        return decode_png(data)
    if fmt == "qjpg":
        return decode_qjpg(data)
    raise ValueError(f"unknown fmt {fmt!r}")


# ---------------------------------------------------------------- invariants

def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0**2 / mse)


def average_phash(px: np.ndarray) -> int:
    """64-bit average hash: block-mean resize to 8x8 grayscale, bit = px > mean.

    Packed big-endian, returned as a *signed* int64 (Spark LongType-safe).
    """
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    # block-mean resize to 8x8 via index binning (works for any h, w >= 8)
    yi = (np.arange(h) * 8) // h
    xi = (np.arange(w) * 8) // w
    # per-cell sums in row-major pixel order (the same order np.add.at
    # accumulates in, so the float sums are bit-identical to it)
    cell = (yi[:, None] * 8 + xi[None, :]).ravel()
    small = np.bincount(cell, weights=gray.ravel(), minlength=64).reshape(8, 8)
    small /= np.bincount(cell, minlength=64).reshape(8, 8)
    bits = (small > small.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val
