"""Partitioned Bloom URL-seen filter — bit-compatible with the reference.

Reference semantics (`/root/reference/SP/bloom_dupefilter.py:13-56`):

- ``m = mem_mb * 8 * 1024 * 1024`` bits per shard (Redis string <= 512 MB).
- ``k <= 7`` hash probes with seeds drawn from ``[5, 7, 11, 13, 31, 37, 61]``.
- shard selection: ``int(md5_hex(value)[0:2], 16) % num_shards``
  (`bloom_dupefilter.py:33,40`).
- bit index per seed: a polynomial rolling hash over the md5 *hexdigest
  characters* — ``ret = ret + seed*ret + ord(ch)`` per char, i.e.
  ``ret = ret*(seed+1) + ord(ch)`` — finally masked ``ret & (m-1)``
  (`bloom_dupefilter.py:46-51`).

Vectorization note (why uint64 wrap-around is *exact*): the reference computes
``ret`` with arbitrary-precision Python ints and masks at the end.  Since the
mask ``m-1 < 2**32``, the AND depends only on ``ret``'s low 64 bits, and those
are exactly what numpy uint64 wrap-around arithmetic produces.  So the whole
hash family runs as 32 fused vector ops per seed over an (n, 32) ord matrix —
no per-row Python in the hot path beyond hashlib.md5 itself.

Scale design (north rule: 10^10-URL frontier):

- the filter is *sharded by value* (same math as the reference's Redis-string
  sharding), so shards can be built independently and a membership probe
  touches exactly one shard;
- build = ``mapInPandas`` emitting per-(partition, shard) packed bitmaps in
  fixed-size chunks, OR-merged with a ``groupBy(shard, chunk).agg(bit_or)``
  shaped reduce on the driver (bitmaps are tiny relative to the data:
  256 MB/shard serves ~93M URLs at FP 8.56e-5 per the reference README);
- probe = broadcast the merged bitmaps, test with a vectorized pandas UDF.

Role in the engine: a **pre-filter** in front of the exact url_seen anti-join
(SURVEY.md D2): rows the Bloom calls "definitely new" skip nothing (the
anti-join stays the source of truth — Bloom false positives would otherwise
become *missed crawls*, `README.md:169`); rows it calls "maybe seen" are the
only ones that need the big url_seen table at all, cutting the anti-join's
probe side by the true-duplicate fraction.
"""

from __future__ import annotations

from dataclasses import dataclass
from hashlib import md5 as _md5

import numpy as np

SEEDS = (5, 7, 11, 13, 31, 37, 61)


@dataclass(frozen=True)
class BloomConfig:
    num_shards: int = 1  # bloom_num
    mem_mb: int = 256  # bloom_mem, <= 512
    k: int = 7  # bloom_k, <= len(SEEDS)

    @property
    def m_bits(self) -> int:
        return self.mem_mb * 8 * 1024 * 1024

    @property
    def shard_bytes(self) -> int:
        return self.mem_mb * 1024 * 1024


# A small config for tests/benches; semantics identical, just fewer bits.
TEST_CONFIG = BloomConfig(num_shards=4, mem_mb=1, k=7)


def _digest_ord_matrix(values) -> np.ndarray:
    """(n, 32) uint64 matrix of ord(hexdigest char); row i = md5(values[i])."""
    digs = np.frombuffer(
        b"".join(_md5(v.encode()).hexdigest().encode() for v in values),
        dtype=np.uint8,
    ).reshape(len(values), 32)
    return digs.astype(np.uint64)


def bit_indices(values, cfg: BloomConfig) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized reference hash family.

    Returns (shards[n], idx[n, k]) — the shard each value maps to and the k
    bit positions within that shard's m-bit space.
    """
    n = len(values)
    if n == 0:
        return np.zeros(0, dtype=np.int64), np.zeros((0, cfg.k), dtype=np.int64)
    ords = _digest_ord_matrix(values)
    # shard = int(hex[0:2], 16) % num — hex chars are 0-9a-f
    d0 = ords[:, 0] - np.where(ords[:, 0] >= ord("a"), ord("a") - 10, ord("0"))
    d1 = ords[:, 1] - np.where(ords[:, 1] >= ord("a"), ord("a") - 10, ord("0"))
    shards = ((d0 * np.uint64(16) + d1) % np.uint64(cfg.num_shards)).astype(np.int64)
    mask = np.uint64(cfg.m_bits - 1)
    idx = np.empty((n, cfg.k), dtype=np.int64)
    with np.errstate(over="ignore"):
        for s_i, seed in enumerate(SEEDS[: cfg.k]):
            mult = np.uint64(seed + 1)
            ret = np.zeros(n, dtype=np.uint64)
            for c in range(32):
                ret = ret * mult + ords[:, c]  # uint64 wrap == low-64 of exact
            idx[:, s_i] = (ret & mask).astype(np.int64)
    return shards, idx


class BloomSet:
    """Driver-side sharded bitmap with reference add/contains semantics."""

    def __init__(self, cfg: BloomConfig, bitmaps: np.ndarray | None = None):
        self.cfg = cfg
        self.bitmaps = (
            bitmaps
            if bitmaps is not None
            else np.zeros((cfg.num_shards, cfg.shard_bytes), dtype=np.uint8)
        )

    def add_many(self, values) -> None:
        shards, idx = bit_indices(values, self.cfg)
        flat = shards[:, None] * np.int64(self.cfg.m_bits) + idx  # (n, k)
        np.bitwise_or.at(
            self.bitmaps.reshape(-1),
            (flat >> 3).reshape(-1),
            (np.uint8(1) << (flat & 7).astype(np.uint8)).reshape(-1),
        )

    def contains_many(self, values) -> np.ndarray:
        """Boolean array: True = maybe seen (all k bits set), False = new."""
        shards, idx = bit_indices(values, self.cfg)
        if len(values) == 0:
            return np.zeros(0, dtype=bool)
        flat = shards[:, None] * np.int64(self.cfg.m_bits) + idx
        bits = (
            self.bitmaps.reshape(-1)[(flat >> 3).reshape(-1)]
            >> (flat & 7).astype(np.uint8).reshape(-1)
        ) & 1
        return bits.reshape(flat.shape).all(axis=1)

    def merge(self, other: "BloomSet") -> "BloomSet":
        np.bitwise_or(self.bitmaps, other.bitmaps, out=self.bitmaps)
        return self


# ------------------------------------------------------------ Spark stages

def build_bloom(df, value_col: str, cfg: BloomConfig) -> BloomSet:
    """Distributed build: per-partition partial bitmaps, OR-merged.

    Each task emits only the *touched* 4 KB chunks of its partial bitmap
    (a frontier partition touches k bits/row → the emitted state is sparse),
    so the shuffle back to the driver is far below num_shards * mem_mb.
    """
    import pandas as pd

    CHUNK = 4096  # bytes
    shard_bytes = cfg.shard_bytes

    def partials(batches):
        local = {}
        for pdf in batches:
            vals = pdf[value_col].tolist()
            shards, idx = bit_indices(vals, cfg)
            for s in np.unique(shards):
                sel = idx[shards == s]
                bm = local.setdefault(int(s), np.zeros(shard_bytes, dtype=np.uint8))
                flat = sel.reshape(-1)
                np.bitwise_or.at(
                    bm, flat >> 3, (np.uint8(1) << (flat & 7).astype(np.uint8))
                )
        out = []
        for s, bm in local.items():
            nz_chunks = np.unique(np.flatnonzero(bm) // CHUNK)
            for c in nz_chunks:
                out.append(
                    (s, int(c), bm[c * CHUNK : (c + 1) * CHUNK].tobytes())
                )
        yield pd.DataFrame(out, columns=["shard", "chunk", "bits"])

    parts = df.select(value_col).mapInPandas(
        partials, "shard int, chunk int, bits binary"
    )
    bloom = BloomSet(cfg)
    flatmap = bloom.bitmaps.reshape(-1)
    for row in parts.collect():  # tiny: only touched chunks travel
        base = row["shard"] * shard_bytes + row["chunk"] * CHUNK
        piece = np.frombuffer(row["bits"], dtype=np.uint8)
        np.bitwise_or(
            flatmap[base : base + len(piece)], piece, out=flatmap[base : base + len(piece)]
        )
    return bloom


def publish_bloom(spark, bloom: BloomSet):
    """Broadcast the bitmaps once; the caller owns the lifecycle (reuse across
    rounds, ``destroy()`` the previous handle after a merge+republish — without
    that, a long crawl accrues one full bitmap copy per round)."""
    return spark.sparkContext.broadcast((bloom.cfg, bloom.bitmaps))


def maybe_seen_from_broadcast(bc):
    """Pandas-UDF membership probe over an already-published broadcast:
    True = maybe seen (all k bits set), False = definitely new."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BooleanType

    def _maybe_seen(values):
        cfg, bitmaps = bc.value
        bs = BloomSet(cfg, bitmaps)
        return pd.Series(bs.contains_many(values.tolist()))

    # lambda-style registration: the module uses `from __future__ import
    # annotations`, which stringifies hints and breaks signature inference
    return F.pandas_udf(_maybe_seen, BooleanType())
