"""Self-tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import json
import os
import threading
import time

import pytest

from perfbench import stats
from perfbench.trace import Span, Tracer, covered, self_times
from perfbench.workloads import (
    WORKLOADS,
    bigram_jaccard_bp,
    components_of,
    crawl_mismatches,
    curation_records,
    hamming_pairs,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(name):
    with open(os.path.join(ROOT, name)) as fh:
        return json.load(fh)


# ------------------------------------------------------------ percentiles


def test_tail_percentile_keeps_ten_samples_beyond():
    assert stats.tail_percentile(range(1, 101)) == (90, 90.0)
    # 15 samples: only a low percentile has ten samples above it
    assert stats.tail_percentile(range(1, 16)) == (33, 5.0)
    assert stats.tail_percentile(range(1, 11)) is None  # too few
    # ties at the top do not count as beyond
    p, v = stats.tail_percentile([1.0] * 5 + [2.0] * 20)
    assert v == 1.0 and p == 20


def test_median():
    assert stats.median([3, 1, 2]) == 2.0
    assert stats.median([4, 1, 2, 3]) == 2.5


def test_resident_bytes_of_this_process():
    # statm (the JVM's cheap read) and Pss agree for a process that shares
    # little with others; a process that has gone reads as 0
    rss = stats.jvm_resident_bytes(os.getpid())
    pss = stats.resident_bytes(os.getpid())
    assert rss > 0 and pss > 0 and pss <= rss
    assert stats.jvm_resident_bytes(2**31 - 1) == 0


# ------------------------------------------------------------ self time


def test_self_time_with_overlapping_children():
    spans = [
        Span(1, "round", 0.0, 10.0, None, 1),
        Span(2, "append", 1.0, 4.0, 1, 1),
        Span(3, "append", 2.0, 6.0, 1, 1),  # overlaps span 2
        Span(4, "replace", 8.0, 9.0, 1, 1),
        Span(5, "inner", 2.5, 3.0, 3, 1),
        Span(6, "late", 9.5, 12.0, 1, 1),  # runs past its parent's end
    ]
    st = self_times(spans)
    # covered by children: [1,6] + [8,9] + [9.5,10] = 6.5
    assert st[1] == pytest.approx(10.0 - 6.5)
    assert st[3] == pytest.approx(4.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert covered([(0, 1), (0.5, 2), (3, 4)], 0, 10) == pytest.approx(3.0)
    assert covered([], 0, 1) == 0.0


def test_pool_thread_spans_hang_under_the_open_round():
    tr = Tracer()

    def work():
        with tr.span("append"):
            time.sleep(0.01)

    with tr.span("round") as root:
        threads = [threading.Thread(target=work) for _ in range(4)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=10)
            assert not t.is_alive()
    kids = tr.by_name("append")
    assert len(kids) == 4
    assert all(s.parent == root.span_id and s.trace_id == root.trace_id for s in kids)
    # four concurrent 10 ms children cover far less of the round than the
    # sum of their durations
    own = self_times(tr.spans)[root.span_id]
    assert own >= 0.0
    assert root.duration - own < sum(s.duration for s in kids)


def test_wrap_patches_where_callers_look_and_uninstalls():
    import types

    mod = types.SimpleNamespace(f=lambda x: x + 1)

    class C:
        def g(self, x):
            return mod.f(x) * 2

    tr = Tracer()
    tr.wrap(C, "g", "C.g")
    tr.wrap(mod, "f", "mod.f", before=lambda args, kwargs: time.sleep(0.02))
    assert C().g(1) == 4
    (g,), (f,) = tr.by_name("C.g"), tr.by_name("mod.f")
    assert f.parent == g.span_id
    # the hook's time is counted as tracing overhead
    assert 0.02 <= tr.hook_s < g.duration
    tr.uninstall()
    assert not hasattr(C.g, "__wrapped__") and C().g(1) == 4
    assert len(tr.spans) == 2


# ------------------------------------------------------------ BENCHMARK.json


def test_metric_names_match_the_rule():
    assert stats.valid_metric_name("crawl.head_s")
    assert stats.valid_metric_name("round_p50_s")
    for bad in ("", "has space", "semi;colon", "_lead", "x" * 65, "p/q"):
        assert not stats.valid_metric_name(bad)
    bench = load("BENCHMARK.json")
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    names += [w["name"] for w in bench["workloads"]]
    assert all(stats.valid_metric_name(n) for n in names)
    assert len(names) == len(set(names))


def test_per_layer_metrics_name_an_end_to_end_metric_and_workload():
    bench = load("BENCHMARK.json")
    spec = load("perfbench/layers.json")
    e2e = {m["name"] for m in bench["end_to_end"]}
    workloads = {w["name"] for w in bench["workloads"]}
    assert workloads == set(WORKLOADS)
    assert [{k: m[k] for k in ("name", "unit", "better")} for m in spec["per_layer"]] == bench["per_layer"]
    for m in spec["per_layer"]:
        assert m["moves"]["metric"] in e2e, m["name"]
        assert m["moves"]["workload"] in workloads, m["name"]
    assert set(spec["unmeasured"]) == {"plans.fleet", "streaming.runner", "operators.bloom"}


def test_benchmark_json_contract_shape():
    bench = load("BENCHMARK.json")
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(bench["workloads"]) <= 8
    assert all(set(w) == {"name", "why"} for w in bench["workloads"])
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in bench["end_to_end"])
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["unit"] == "s" and setup[0]["better"] == "lower"
    assert setup[0]["bound"] == max(m["bound"] for m in bench["end_to_end"])


# ------------------------------------------------------------ correctness gates


def test_planted_wrong_row_in_a_crawl_drives_mismatches():
    from spiderman_spark import corpusgen as cg
    from spiderman_spark import simulator as sim

    spec = cg.UNIT
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(spec), sim.make_seeds(spec),
        politeness=sim.Politeness(max_per_round=2),
        callbacks={"list": True, "detail": False, "file": False},
    )
    order, seen = list(ref.crawl_order), sorted(ref.url_seen)
    assert crawl_mismatches(order, seen, ref.crawl_order, ref.url_seen) == 0
    wrong = list(order)
    rank, rnd, url, host, attempt = wrong[3]
    wrong[3] = (rank, rnd, url, host, attempt + 1)
    assert crawl_mismatches(wrong, seen, ref.crawl_order, ref.url_seen) == 1
    assert crawl_mismatches(order[:-1], seen, ref.crawl_order, ref.url_seen) == 1
    assert crawl_mismatches(order, seen[1:] + ["f" * 40], ref.crawl_order, ref.url_seen) == 2


def test_curation_records_plant_clone_clusters():
    rows, planted = curation_records(5, 300, [20, 3, 2])
    assert [r[0] for r in rows] == list(range(1, 301))
    by_id = {r[0]: r for r in rows}
    for members in planted:
        caps = {by_id[i][1] for i in members}
        assert len(caps) == 1
    pairs = hamming_pairs([r[0] for r in rows], [r[2] for r in rows], 3)
    want = {(a, b) for m in planted for i, a in enumerate(m) for b in m[i + 1:]}
    assert want <= {(a, b) for a, b, _ in pairs}
    assert curation_records(5, 300, [20, 3, 2]) == (rows, planted)


def test_hamming_pairs_brute_force():
    ids = [5, 1, 9, 3]
    hs = [0b1011, 0b1001, -1, 0b1011 - (1 << 63)]  # the last differs from the first in bit 63
    got = hamming_pairs(ids, hs, 2)
    want = []
    for i in range(4):
        for j in range(4):
            if ids[i] < ids[j]:
                d = bin((hs[i] ^ hs[j]) & (2**64 - 1)).count("1")
                if d <= 2:
                    want.append((ids[i], ids[j], d))
    assert got == sorted(want)


def test_bigram_jaccard_and_components():
    assert bigram_jaccard_bp("a b c d", "a b c d") == 10000
    assert bigram_jaccard_bp("a b c d", "a b c e") == int(2 * 10000 / 4)
    assert components_of([(5, 3), (3, 9), (7, 8)]) == {5: 3, 3: 3, 9: 3, 7: 7, 8: 7}
