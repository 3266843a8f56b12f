"""Codec invariants backing the per-row image checks (BASELINE.json:15)."""

import numpy as np
import pytest

from spiderman_spark import imagecodec as ic


@pytest.mark.parametrize("fmt", ic.FORMATS)
def test_roundtrip(fmt):
    px = ic.gen_pixels(42, "IMG1", 33, 17)
    out = ic.decode(ic.encode(px, fmt), fmt)
    assert out.shape == px.shape
    if fmt == "qjpg":
        assert ic.psnr(px, out) >= 40.0  # lossy stand-in must clear the gate
    else:
        assert (out == px).all()  # lossless formats exact


def test_determinism():
    a = ic.gen_pixels(42, "X", 20, 20)
    b = ic.gen_pixels(42, "X", 20, 20)
    c = ic.gen_pixels(43, "X", 20, 20)
    assert (a == b).all() and not (a == c).all()
    assert ic.gen_caption(42, "X") == ic.gen_caption(42, "X")
    assert ic.gen_caption(42, "X") != ic.gen_caption(42, "Y")


def test_phash_properties():
    px = ic.gen_pixels(42, "P", 48, 32)
    h1 = ic.average_phash(px)
    assert -(2**63) <= h1 < 2**63
    # lossy decode stays phash-identical or very close (hamming <= 4)
    out = ic.decode(ic.encode(px, "qjpg"), "qjpg")
    h2 = ic.average_phash(out)
    assert bin((h1 ^ h2) & ((1 << 64) - 1)).count("1") <= 4


def test_psnr_identical_inf():
    px = ic.gen_pixels(42, "Q", 16, 16)
    assert ic.psnr(px, px) == float("inf")
    noisy = np.clip(px.astype(int) + 2, 0, 255).astype(np.uint8)
    assert 30 < ic.psnr(px, noisy) < 60


def _average_phash_add_at(px):
    """The np.add.at formulation ``average_phash`` replaced, kept as the
    bit-exact reference for its np.bincount form."""
    gray = px.astype(np.float64).mean(axis=2)
    h, w = gray.shape
    yi = (np.arange(h) * 8) // h
    xi = (np.arange(w) * 8) // w
    small = np.zeros((8, 8))
    counts = np.zeros((8, 8))
    np.add.at(small, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), gray)
    np.add.at(counts, (yi[:, None].repeat(w, 1), xi[None, :].repeat(h, 0)), 1.0)
    small /= counts
    bits = (small > small.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    return val - (1 << 64) if val >= (1 << 63) else val


@pytest.mark.parametrize(
    "h,w",
    [(8, 8), (8, 13), (13, 8), (8, 224), (9, 100), (17, 31), (160, 224), (201, 177)],
)
def test_average_phash_matches_add_at_reference(h, w):
    for key in ("A", "B", "C"):
        px = ic.gen_pixels(7, f"{key}{h}x{w}", w, h)
        assert ic.average_phash(px) == _average_phash_add_at(px)
    # flat and two-level images: ties against the mean
    flat = np.full((h, w, 3), 77, np.uint8)
    assert ic.average_phash(flat) == _average_phash_add_at(flat) == 0
    split = flat.copy()
    split[: h // 2] = 200
    assert ic.average_phash(split) == _average_phash_add_at(split)


def test_average_phash_matches_add_at_on_fixture_images():
    """The q28 fixture's images (UNIT corpus): ground-truth pixels and their
    decoded bytes hash identically under both formulations, and equal the
    fixture's recorded phash."""
    import os

    import pyarrow.parquet as pq

    from spiderman_spark import corpusgen as cg

    path = os.path.join(os.path.dirname(__file__), "fixtures", "q28_images.parquet")
    rows = pq.read_table(path).to_pylist()
    assert rows
    for r in rows:
        px = ic.gen_pixels(cg.UNIT.seed, r["image_id"], r["w"], r["h"])
        assert ic.average_phash(px) == _average_phash_add_at(px) == r["phash"]
        dec = ic.decode(ic.encode(px, r["fmt"]), r["fmt"])
        assert ic.average_phash(dec) == _average_phash_add_at(dec)
