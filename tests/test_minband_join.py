"""`dedup.minband_pair_union` is ONE banded equi-join over exploded
(band, bucket, salt) rows.  It must emit exactly the pair set of the
per-band formulation it replaced — one join per band keyed on that band's
bucket, earlier-band filters for exactly-once emission, and one more salted
join per band holding a hot bucket — which is kept here as the reference.
"""

import math
import random

import pytest
from pyspark.sql import functions as F

from spiderman_spark.operators import dedup


def per_band_reference(
    x, y, slice_a, slice_b, bands, pair_predicate=None, max_bucket_rows=None,
    oversize_policy="salt", salt_col_a=None,
):
    """The per-band formulation: a union of ``bands`` joins plus one salted
    join per hot band, each filtered to pairs that share no earlier band."""
    if pair_predicate is None:
        pair_predicate = F.col("id_a") < F.col("id_b")
    hot = {}
    if max_bucket_rows is not None:
        hot = dedup._hot_buckets(x, slice_a, bands, max_bucket_rows, 4096)

    def earlier_band_filters(j, b):
        for i in range(b):
            neq = slice_a(i) != slice_b(i)
            if oversize_policy == "skip" and hot.get(i):
                neq = neq | slice_a(i).cast("string").isin(list(hot[i]))
            j = j.where(neq)
        return j

    parts = []
    for b in range(bands):
        xb, yb = x, y
        if hot.get(b):
            hot_b = list(hot[b])
            xb = xb.where(~slice_a(b).cast("string").isin(hot_b))
            yb = yb.where(~slice_b(b).cast("string").isin(hot_b))
        j = xb.join(yb, slice_a(b) == slice_b(b)).where(pair_predicate)
        parts.append(earlier_band_filters(j, b))
        if hot.get(b) and oversize_policy == "salt":
            hot_b = list(hot[b])
            s = max(2, int(min(64, math.ceil(max(hot[b].values()) / max_bucket_rows))))
            xh = x.where(slice_a(b).cast("string").isin(hot_b)).withColumn(
                "_hsx", F.pmod(F.xxhash64(F.col(salt_col_a)), F.lit(s)).cast("int")
            )
            yh = y.where(slice_b(b).cast("string").isin(hot_b)).withColumn(
                "_hsy", F.explode(F.array(*[F.lit(i) for i in range(s)]))
            )
            jh = xh.join(
                yh, (slice_a(b) == slice_b(b)) & (F.col("_hsx") == F.col("_hsy"))
            ).where(pair_predicate)
            parts.append(earlier_band_filters(jh, b).drop("_hsx", "_hsy"))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _rows(df, a, b):
    """Every emitted (a, b) row, duplicates kept."""
    return sorted((r[a], r[b]) for r in df.select(a, b).collect())


def random_buckets(seed, n=160, bands=4):
    """Rows with one string bucket per band.  Band 0 puts ~40 % of the rows
    in bucket "h0", band 1 ~20 % in "h1" (two hot bands of different sizes,
    so different salt factors at a cap of 12); every other draw is from a
    small alphabet so pairs share several bands and many share none."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        bk = []
        for b in range(bands):
            hot_share = {0: 0.4, 1: 0.2}.get(b, 0.0)
            bk.append(f"h{b}" if rng.random() < hot_share else f"c{rng.randrange(20)}")
        rows.append((i, *bk))
    return rows


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("policy", ["salt", "skip"])
def test_single_join_equals_per_band_union(spark, seed, policy):
    bands = 4
    df = spark.createDataFrame(
        random_buckets(seed, bands=bands),
        "rid long, " + ", ".join(f"b{i} string" for i in range(bands)),
    )
    x = df.select(F.col("rid").alias("id_a"), *[F.col(f"b{i}").alias(f"xa{i}") for i in range(bands)])
    y = df.select(F.col("rid").alias("id_b"), *[F.col(f"b{i}").alias(f"yb{i}") for i in range(bands)])
    sa, sb = (lambda b: F.col(f"xa{b}")), (lambda b: F.col(f"yb{b}"))
    stats = {}
    got = dedup.minband_pair_union(
        x, y, sa, sb, bands, max_bucket_rows=12, oversize_policy=policy,
        salt_col_a="id_a", stats_out=stats,
    )
    want = per_band_reference(
        x, y, sa, sb, bands, max_bucket_rows=12, oversize_policy=policy,
        salt_col_a="id_a",
    )
    got_rows = _rows(got, "id_a", "id_b")
    assert got_rows == _rows(want, "id_a", "id_b")
    assert len(got_rows) == len(set(got_rows)), "a pair was emitted twice"
    assert got_rows and all(a < b for a, b in got_rows)
    assert {0, 1} <= set(stats["hot"]) and stats["policy"] == policy
    if policy == "salt":
        assert set(stats["salt_factor"]) == set(stats["hot"])
        assert stats["salt_factor"][0] > stats["salt_factor"][1] >= 2
        # salting is exact: the same pairs as with no cap at all
        plain = dedup.minband_pair_union(x, y, sa, sb, bands)
        assert got_rows == _rows(plain, "id_a", "id_b")
    else:
        assert stats["salt_factor"] == {}


@pytest.mark.parametrize("policy", ["salt", "skip"])
def test_query_corpus_predicate_equals_per_band_union(spark, policy):
    """The lsh_topk shape: a corpus x side with its own id column, a
    broadcast query y side, long bucket slices of one sketch column and a
    custom pair predicate; the corpus holds hot buckets in two bands."""
    rng = random.Random(7)
    bits, bands = 4, 3

    def sketch():
        s = rng.randrange(1 << (bits * bands))
        r = rng.random()
        if r < 0.35:
            s = (s & ~0xF) | 0x5  # band 0 slice fixed: hot
        elif r < 0.55:
            s = (s & ~0xF0) | 0xA0  # band 1 slice fixed: hot
        return s

    corpus = spark.createDataFrame(
        [(i, sketch()) for i in range(150)], "neighbor_id long, skc long"
    )
    queries = spark.createDataFrame(
        [(i, sketch()) for i in range(0, 150, 5)] + [(1000 + i, sketch()) for i in range(10)],
        "query_id long, skq long",
    )

    def slice_of(col, b):
        return F.shiftright(col, b * bits).bitwiseAND(F.lit((1 << bits) - 1))

    kw = dict(
        pair_predicate=F.col("query_id") != F.col("neighbor_id"),
        max_bucket_rows=10, oversize_policy=policy, salt_col_a="neighbor_id",
    )
    args = (corpus, F.broadcast(queries), lambda b: slice_of(F.col("skc"), b),
            lambda b: slice_of(F.col("skq"), b), bands)
    stats = {}
    got = _rows(dedup.minband_pair_union(*args, stats_out=stats, **kw), "query_id", "neighbor_id")
    want = _rows(per_band_reference(*args, **kw), "query_id", "neighbor_id")
    assert got == want
    assert len(got) == len(set(got)) and all(q != c for q, c in got)
    assert {0, 1} <= set(stats["hot"])
