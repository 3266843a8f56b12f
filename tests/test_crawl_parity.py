"""The correctness gate: Spark engine ≡ reference simulator, bit-for-bit
(crawl order, URL-seen set, fetch counts, item multisets) — BASELINE.json:2,14.
"""

import pytest

from spiderman_spark import corpusgen as cg
from spiderman_spark import simulator as sim
from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine


def run_pair(spark, workdir, spec, callbacks, budget=8, budgets_df=None):
    corpus_df = cg.build_crawl_corpus(spark, spec)
    engine = CrawlEngine(
        spark,
        corpus_df,
        workdir,
        CrawlConfig(callbacks=dict(callbacks), default_budget=budget),
        budgets=budgets_df,
    )
    seeds = sim.make_seeds(spec)
    engine.seed(seeds)
    summary = engine.run()
    pol = sim.Politeness(max_per_round=budget)
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(spec), seeds, politeness=pol,
        callbacks={**callbacks, "file": False},
    )
    return engine, summary, ref


def assert_parity(engine, summary, ref):
    got_order = [
        (r["rank"], r["round"], r["url"], r["host"], r["attempt"])
        for r in engine.crawl_order().orderBy("rank").collect()
    ]
    assert got_order == ref.crawl_order, (
        f"first divergence: {next((i, a, b) for i, (a, b) in enumerate(zip(got_order, ref.crawl_order)) if a != b)}"
        if got_order != ref.crawl_order and len(got_order) == len(ref.crawl_order)
        else f"len {len(got_order)} vs {len(ref.crawl_order)}"
    )
    got_seen = {r["fp"] for r in engine.url_seen().collect()}
    assert got_seen == ref.url_seen
    got_counts = {
        (r["round"], r["host"]): r["n"] for r in engine.metrics().collect()
    }
    assert got_counts == ref.fetch_counts
    assert summary["rounds"] == ref.rounds
    got_failed = sorted(r["url"] for r in engine.failed().collect())
    assert got_failed == sorted(u for u, _ in ref.failed)


DEMO_CBS = {"list": True, "detail": True}  # zhifang defaults (dont_filter)
DEDUP_CBS = {"list": True, "detail": False}  # exercises the D1 dedup gate


def test_middleware_columns_parity(spark, workdir):
    """U3 (VERDICT r2 #7): UA/cookie rotation columns stamped on the fetch
    batch must match the simulator's driver-side mirror per fetched request,
    and the headers broadcast reaches the batch."""
    uas = ["UA-alpha/1.0", "UA-beta/2.0", "UA-gamma/3.0"]
    cks = ["sid=a1; theme=d", "sid=b2; theme=l"]
    corpus_df = cg.build_crawl_corpus(spark, cg.UNIT)
    engine = CrawlEngine(
        spark, corpus_df, workdir,
        CrawlConfig(
            callbacks=dict(DEDUP_CBS), default_budget=4,
            user_agents=uas, cookies=cks,
            default_headers={"Accept": "text/html", "Referer": "http://x"},
        ),
    )
    seeds = sim.make_seeds(cg.UNIT)
    engine.seed(seeds)
    engine.run()
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(cg.UNIT), seeds,
        politeness=sim.Politeness(max_per_round=4),
        callbacks={**DEDUP_CBS, "file": False},
        middleware={"user_agents": uas, "cookies": cks},
    )
    got = [
        (r["rank"], r["round"], r["url"], r["host"], r["attempt"], r["ua"], r["cookie"])
        for r in engine.crawl_order().orderBy("rank").collect()
    ]
    assert got == ref.crawl_order
    assert {u for *_, u, _ in got} == set(uas)  # rotation actually rotates
    # headers column is visible on the stamped batch expression
    from pyspark.sql import functions as F

    stamped = engine._with_middleware(
        spark.createDataFrame([("http://h0.example.test/list/1",)], "url string")
    )
    row = stamped.collect()[0]
    assert row["headers_json"] == '{"Accept": "text/html", "Referer": "http://x"}'
    assert row["ua"] in uas and row["cookie"] in cks


@pytest.mark.parametrize("callbacks", [DEMO_CBS, DEDUP_CBS], ids=["demo", "dedup"])
def test_unit_scale_parity(spark, workdir, callbacks):
    engine, summary, ref = run_pair(spark, workdir, cg.UNIT, callbacks, budget=3)
    assert_parity(engine, summary, ref)


def test_shuffle_fetch_join_parity(spark, workdir, monkeypatch):
    """The fetch join's shuffle side (rounds above BROADCAST_MAX_ROWS eligible
    rows) must give the same crawl as the broadcast side."""
    from spiderman_spark.plans import crawl

    monkeypatch.setattr(crawl, "BROADCAST_MAX_ROWS", 0)
    engine, summary, ref = run_pair(spark, workdir, cg.UNIT, DEDUP_CBS, budget=3)
    assert_parity(engine, summary, ref)


def test_items_match_simulator(spark, workdir):
    engine, summary, ref = run_pair(spark, workdir, cg.UNIT, DEDUP_CBS, budget=4)
    for tb in ("zhifang_list", "zhifang_detail", "zhifang_file"):
        got = engine.items(tb)
        ref_rows = ref.items.get(tb, [])
        assert got.count() == len(ref_rows)
        # multiset equality over the reference's fields
        cols = sorted(ref_rows[0].keys())
        got_set = sorted(
            tuple(r[c] for c in cols) for r in got.select(*cols).collect()
        )
        ref_set = sorted(tuple(it[c] for c in cols) for it in ref_rows)
        assert got_set == ref_set
    # audit columns present (P1/D4) and keyids unique per row
    lst = engine.items("zhifang_list")
    assert {"keyid", "bizdate", "ctime", "spider"} <= set(lst.columns)
    assert lst.select("keyid").distinct().count() == lst.count()


def test_correctness_scale_parity(spark, workdir):
    """FIXTURES.md §8 'correctness' scale: 17 hosts (1 mega), ~2k URLs."""
    engine, summary, ref = run_pair(
        spark, workdir, cg.CORRECTNESS, DEDUP_CBS, budget=16
    )
    assert_parity(engine, summary, ref)


def test_per_host_budget_overrides(spark, workdir):
    spec = cg.UNIT
    budgets_df_builder = lambda s: s.createDataFrame(
        [("h0.example.test", 1)], "host string, max_per_round int"
    )
    corpus_df = cg.build_crawl_corpus(spark, spec)
    from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

    engine = CrawlEngine(
        spark, corpus_df, workdir,
        CrawlConfig(callbacks=dict(DEDUP_CBS), default_budget=4),
        budgets=budgets_df_builder(spark),
    )
    seeds = sim.make_seeds(spec)
    engine.seed(seeds)
    summary = engine.run()
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(spec), seeds,
        politeness=sim.Politeness(max_per_round=4, per_host={"h0.example.test": 1}),
        callbacks={**DEDUP_CBS, "file": False},
    )
    assert_parity(engine, summary, ref)


# ---- POST body fingerprinting (VERDICT "missing" #1) ----------------------
#
# A tiny custom spider whose list page emits POST children to ONE url with
# three bodies (x=1, x=2, x=1 again): body-aware dedup must admit exactly two
# and the engine must match the simulator bit-for-bit.

_POST_SEED = "http://p.test/page"
_POST_CHILD = "http://p.test/api"


def _post_parse(url, body):
    if url == _POST_SEED:
        children = [
            {"url": _POST_CHILD, "method": "POST", "callback": "detail", "body": b}
            for b in ("x=1", "x=2", "x=1")
        ]
        return [], children
    return [("post_items", {"echo": url})], []


def _post_corpus_rows():
    pad = " " * 80
    return [
        {"url": u, "host": "p.test", "kind": "list", "http_status": 200,
         "body": "{}" + pad, "body_size": 82, "out_links": []}
        for u in (_POST_SEED, _POST_CHILD)
    ]


def test_post_body_dedup_parity(spark, workdir):
    from spiderman_spark.functions.urltools import fingerprint
    from spiderman_spark.spiderspec import SpiderSpec

    # distinct bodies -> distinct fingerprints; same body -> same
    assert fingerprint("POST", _POST_CHILD, "x=1") != fingerprint("POST", _POST_CHILD, "x=2")
    assert fingerprint("POST", _POST_CHILD, "x=1") == fingerprint("POST", _POST_CHILD, "x=1")
    assert fingerprint("GET", _POST_CHILD) == fingerprint("GET", _POST_CHILD, "")

    spec = SpiderSpec(
        name="post_demo",
        item_tables={"post_items": "echo string"},
        callbacks={"list": True, "detail": False},
        parse=_post_parse,
        page_callbacks=("list", "detail"),
    )
    corpus_df = spark.createDataFrame(
        _post_corpus_rows(), cg.CRAWL_CORPUS_DDL
    )
    engine = CrawlEngine(
        spark, corpus_df, workdir,
        CrawlConfig(callbacks=dict(spec.callbacks), default_budget=8),
        spec=spec,
    )
    seeds = [{"url": _POST_SEED, "callback": "list"}]
    engine.seed(seeds)
    summary = engine.run()
    ref = sim.simulate_crawl(
        {r["url"]: r for r in _post_corpus_rows()},
        seeds,
        politeness=sim.Politeness(max_per_round=8),
        callbacks={**spec.callbacks, "file": False},
        parse_fn=_post_parse,
    )
    assert_parity(engine, summary, ref)
    # exactly two POSTs fetched (x=1 deduped on its second emission)
    order = engine.crawl_order().orderBy("rank").collect()
    assert [r["url"] for r in order] == [_POST_SEED, _POST_CHILD, _POST_CHILD]
    assert len(ref.url_seen) == 2


def test_robots_optin_parity(spark, workdir):
    """T4: with broadcast robots rules enabled, disallowed children are
    dropped as failed('robots') identically in engine and simulator (the
    reference default is OFF — both engines default to no rules)."""
    spec = cg.UNIT
    rules = {"h0.example.test": ["/detail/"], "h1.example.test": ["/img/"]}
    rules_df = spark.createDataFrame(
        [(h, p) for h, ps in rules.items() for p in ps],
        "host string, disallow_prefix string",
    )
    corpus_df = cg.build_crawl_corpus(spark, spec)
    engine = CrawlEngine(
        spark, corpus_df, workdir,
        CrawlConfig(callbacks=dict(DEDUP_CBS), default_budget=4),
        robots_rules=rules_df,
    )
    seeds = sim.make_seeds(spec)
    engine.seed(seeds)
    summary = engine.run()
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(spec), seeds,
        politeness=sim.Politeness(max_per_round=4),
        callbacks={**DEDUP_CBS, "file": False},
        robots_rules=rules,
    )
    assert_parity(engine, summary, ref)
    blocked = engine.failed().where("reason = 'robots'")
    assert blocked.count() > 0
    assert all(
        "/detail/" in r["url"] or "/img/" in r["url"] for r in blocked.collect()
    )


def test_priority_frontier_parity(spark, workdir):
    """North-rule priority queue: frontier ordered by (priority DESC, seq).
    Mixed seed priorities (children inherit their parent's) must match the
    simulator bit-for-bit, and must actually reorder fetches relative to the
    all-default FIFO run."""
    spec = cg.UNIT
    corpus_df = cg.build_crawl_corpus(spark, spec)
    seeds = sim.make_seeds(spec)
    for i, s in enumerate(seeds):
        s["priority"] = [0, 5, 1][i % 3]
    engine = CrawlEngine(
        spark, corpus_df, workdir,
        CrawlConfig(callbacks=dict(DEMO_CBS), default_budget=2),
    )
    engine.seed(seeds)
    summary = engine.run()
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(spec), seeds,
        politeness=sim.Politeness(max_per_round=2),
        callbacks={**DEMO_CBS, "file": False},
    )
    assert_parity(engine, summary, ref)
    # priorities genuinely reorder: the same crawl with default priorities
    # must fetch in a different order (same multiset of URLs)
    ref_fifo = sim.simulate_crawl(
        sim.corpus_as_dict(spec), sim.make_seeds(spec),
        politeness=sim.Politeness(max_per_round=2),
        callbacks={**DEMO_CBS, "file": False},
    )
    assert [t[2] for t in ref.crawl_order] != [t[2] for t in ref_fifo.crawl_order]
    assert sorted(t[2] for t in ref.crawl_order) == sorted(
        t[2] for t in ref_fifo.crawl_order
    )
