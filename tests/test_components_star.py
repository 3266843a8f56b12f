"""Connected components over near-dup pairs: the driver union-find path
equals the distributed large-star/small-star path (forced by patching the
module bound to 0) on seeded random graphs, star converges in ~log(diameter)
rounds, and an edge list under the bound costs one Spark job.
"""

import hashlib
import math
import random
import time

import pytest

from spiderman_spark.operators import dedup


def _labels(df):
    return {(r["did"], r["rep"]) for r in df.collect()}


def _both(pairs, monkeypatch, max_iters=25):
    """(driver labels, star labels, driver stats, star stats)."""
    s_drv, s_star = {}, {}
    drv = _labels(dedup.neardup_components(pairs, stats_out=s_drv))
    with monkeypatch.context() as m:
        m.setattr(dedup, "MAX_EDGES", 0)
        star = _labels(
            dedup.neardup_components(pairs, max_iters=max_iters, stats_out=s_star)
        )
    assert s_drv["algorithm_used"] == "driver", s_drv
    assert s_star["algorithm_used"] == "star", s_star
    return drv, star, s_drv, s_star


def _min_labels(edges):
    """Independent oracle: every non-null vertex labelled with the minimum
    of its component, by a plain dict union-find."""
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ends = [x for x in (a, b) if x is not None]
        for x in ends:
            find(x)
        if len(ends) == 2:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in parent}


def _random_edges(rng, ids, m=45):
    """Random edges over ``ids``, with self-pairs, duplicates and reversed
    copies mixed in."""
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(m)]
    edges += [(v, v) for v in rng.sample(ids, 3)]
    edges += rng.sample(edges, 5) + [(b, a) for a, b in rng.sample(edges, 5)]
    rng.shuffle(edges)
    return edges


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_driver_equals_star_random_graphs(spark, monkeypatch, seed):
    edges = _random_edges(random.Random(seed), list(range(60)))
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv, star, _, _ = _both(pairs, monkeypatch)
    assert drv == star == _min_labels(edges)


def test_driver_equals_star_string_ids(spark, monkeypatch):
    """md5-hex ids (q40's image ids) plus mixed-case and non-ASCII ids:
    ``rep`` is the minimum in Spark's string ordering, ids stay strings."""
    rng = random.Random(7)
    ids = [hashlib.md5(str(i).encode()).hexdigest() for i in range(40)]
    ids += ["Z", "a", "é", "z", "Ω"]
    edges = _random_edges(rng, ids)
    pairs = spark.createDataFrame(edges, "id_a string, id_b string")
    drv, star, _, _ = _both(pairs, monkeypatch)
    assert drv == star == _min_labels(edges)
    out = dedup.neardup_components(pairs)
    assert [f.dataType.simpleString() for f in out.schema] == ["string", "string"]


def test_null_id_is_a_lone_vertex(spark, monkeypatch):
    """A null id comes back as one (null, null) row and no edge runs
    through it, on both paths."""
    pairs = spark.createDataFrame(
        [(1, None), (None, None), (2, 3), (None, 3)], "id_a long, id_b long"
    )
    want = {(1, 1), (2, 2), (3, 2), (None, None)}
    drv, star, _, _ = _both(pairs, monkeypatch)
    assert drv == star == want


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_driver_empty_keeps_id_type(spark, id_type):
    empty = spark.createDataFrame([], f"id_a {id_type}, id_b {id_type}")
    out = dedup.neardup_components(empty)
    assert out.collect() == []
    assert out.schema == empty.select(
        empty["id_a"].alias("did"), empty["id_a"].alias("rep")
    ).schema


def test_star_on_clique_plus_bridges(spark, monkeypatch):
    """The near-dup shape the operator exists for: cliques joined by short
    bridges, plus an isolated pair."""
    clique1 = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    clique2 = [(10 + i, 10 + j) for i in range(4) for j in range(i + 1, 4)]
    edges = clique1 + clique2 + [(4, 10)] + [(100, 101)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv, star, _, _ = _both(pairs, monkeypatch)
    assert drv == star
    reps = {r for _, r in star}
    assert reps == {0, 100}  # one merged component min 0, isolated pair min 100


def test_star_halves_rounds_on_path_graph(spark, monkeypatch):
    """Path 0-1-2-...-16 (diameter 16): the star rounds shortcut toward
    the minimum, so they converge in ~log2(diameter) alternating rounds, at
    most half the diameter."""
    edges = [(i, i + 1) for i in range(16)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    drv, star, _, s_star = _both(pairs, monkeypatch)
    assert drv == star
    assert all(r == 0 for _, r in star)
    assert s_star["iterations"] <= math.log2(16) + 2, s_star


def test_driver_rounds_are_logarithmic_on_long_path(spark):
    """A shuffled 10^5-vertex path: the union-find hooks roots and jumps
    pointers, so it needs O(log n) rounds, not O(diameter) — a per-hop
    labelling would take 10^5 rounds and blow the wall bound."""
    n = 100_000
    perm = list(range(n))
    random.Random(3).shuffle(perm)
    pairs = spark.createDataFrame(
        [(perm[i], perm[i + 1]) for i in range(n - 1)], "id_a long, id_b long"
    ).localCheckpoint()
    s = {}
    t0 = time.perf_counter()
    out = dedup.neardup_components(pairs, stats_out=s)
    assert time.perf_counter() - t0 < 30
    assert s["algorithm_used"] == "driver"
    assert s["iterations"] <= 2 * math.ceil(math.log2(n)), s
    assert out.count() == n
    assert out.where(out["rep"] != 0).count() == 0


def test_driver_path_is_one_spark_job(spark):
    """Under the bound the edge collect is the only Spark job: it is both
    the data and the size test, and the labels come back as a local frame."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (7, 7)], "id_a long, id_b long"
    ).localCheckpoint()
    tracker = spark.sparkContext.statusTracker()

    def jobs():
        time.sleep(0.3)  # job events reach the tracker asynchronously
        return set(tracker.getJobIdsForGroup(None))

    before = jobs()
    out = dedup.neardup_components(pairs)
    assert len(jobs() - before) == 1
    assert _labels(out) == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10), (7, 7)}


def test_self_pair_vertices_covered_by_both_algorithms(spark, monkeypatch):
    """A vertex whose ONLY pair is a self-pair must appear (self-labelled)
    on the driver path and on the star path."""
    pairs = spark.createDataFrame(
        [(7, 7), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    want = {(7, 7), (2, 2), (3, 2), (4, 2)}
    drv, star, _, _ = _both(pairs, monkeypatch)
    assert drv == star == want


def test_star_empty_and_failfast(spark, monkeypatch):
    empty = spark.createDataFrame([], "id_a long, id_b long")
    assert dedup._components_star(empty, "id_a", "id_b", 20, None).count() == 0
    pairs = spark.createDataFrame([(i, i + 1) for i in range(40)], "id_a long, id_b long")
    monkeypatch.setattr(dedup, "MAX_EDGES", 0)
    with pytest.raises(RuntimeError, match="not converged"):
        dedup.neardup_components(pairs, max_iters=1)


def test_star_matches_q37_shape(spark, monkeypatch):
    """Same (did, rep) on both paths over REAL LSH pairs (the q37 input) at
    sf0.001."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=1, k=32, bands=8, threshold=0.6
    )
    pairs = pairs.localCheckpoint()
    drv, star, _, _ = _both(pairs, monkeypatch)
    assert drv == star
