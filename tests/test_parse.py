"""operators.parse — the crawl round's single Python stage.

``parse_pages`` computes each request row's dedup key (``fp``, ``canon``)
inside its own loop, so the round needs no second Python stage for the
fingerprint UDFs.  The keys must equal the shared ``urltools`` functions the
simulator uses, on the URL forms where canonicalization or body hashing
matter; the stage must run at most one task per core; and the new columns
stay out of the ``items_raw`` table.
"""

from pyspark import TaskContext
from pyspark.sql import functions as F

from spiderman_spark import corpusgen as cg
from spiderman_spark import parselib
from spiderman_spark import simulator as sim
from spiderman_spark.functions.urltools import canonical, fingerprint
from spiderman_spark.operators.parse import parse_pages, requests_of
from spiderman_spark.plans.crawl import ITEMS_RAW_COLS, CrawlConfig, CrawlEngine
from spiderman_spark.spiderspec import ZHIFANG, SpiderSpec

EDGE_CHILDREN = [
    # POST with a body: the body is part of the fingerprint
    {"url": "http://p.test/form", "method": "POST", "body": "x=1&y=2", "callback": "detail"},
    {"url": "http://p.test/form", "method": "POST", "body": "x=2", "callback": "detail"},
    # upper-case host (and scheme) canonicalize to lower case; path keeps case
    {"url": "HTTP://UPPER.Example.TEST/Path/A", "callback": "detail"},
    {"url": "http://p.test/page#frag", "callback": "detail"},
    {"url": "http://p.test/q?", "callback": "detail"},
    # the delimiter-collision pair from fingerprint()'s docstring
    {"url": "http://h/a:b", "method": "POST", "body": "", "callback": "detail"},
    {"url": "http://h/a", "method": "POST", "body": "b:", "callback": "detail"},
]


def _edge_parse(url, body):
    return [("edge_items", {"echo": url})], [dict(c) for c in EDGE_CHILDREN]


def test_parse_pages_fp_canon_match_urltools(spark):
    pages = spark.createDataFrame(
        [(0, "http://p.test/", "{}"), (1, "http://p.test/2", "{}")],
        "seq long, url string, body string",
    )
    rows = parse_pages(pages, _edge_parse).collect()
    reqs = [r for r in rows if r["out_kind"] == "request"]
    items = [r for r in rows if r["out_kind"] == "item"]
    assert len(reqs) == 2 * len(EDGE_CHILDREN) and len(items) == 2
    for r in reqs:
        assert r["fp"] == fingerprint(r["method"], r["url"], r["body"])
        assert r["canon"] == canonical(r["url"])
    for r in items:
        assert r["fp"] is None and r["canon"] is None

    by_url = {(r["url"], r["body"]): r for r in reqs if r["parent_seq"] == 0}
    assert by_url[("HTTP://UPPER.Example.TEST/Path/A", "")]["canon"] == (
        "http://upper.example.test/Path/A"
    )
    assert by_url[("http://p.test/page#frag", "")]["canon"] == "http://p.test/page"
    assert by_url[("http://p.test/q?", "")]["canon"] == "http://p.test/q"
    assert (
        by_url[("http://p.test/form", "x=1&y=2")]["fp"]
        != by_url[("http://p.test/form", "x=2")]["fp"]
    )
    assert by_url[("http://h/a:b", "")]["fp"] != by_url[("http://h/a", "b:")]["fp"]

    # requests_of carries the keys through to the dedup gate
    got = requests_of(parse_pages(pages, _edge_parse)).select("url", "fp", "canon")
    assert sorted(map(tuple, got.collect())) == sorted(
        (r["url"], r["fp"], r["canon"]) for r in reqs
    )


def _probe_parse(url, body):
    """zhifang's parse plus one item naming the Python task that parsed it."""
    items, children = parselib.parse_body(url, body)
    ctx = TaskContext.get()
    probe = {"stage": ctx.stageId(), "pid": ctx.partitionId()}
    return items + [("parse_probe", probe)], children


def test_crawl_round_parse_runs_one_task_per_core(spark, workdir):
    spec = SpiderSpec(
        name="zhifang_probe",
        item_tables={**ZHIFANG.item_tables, "parse_probe": "stage int, pid int"},
        callbacks=dict(ZHIFANG.callbacks),
        parse=_probe_parse,
        page_callbacks=ZHIFANG.page_callbacks,
    )
    engine = CrawlEngine(
        spark, cg.build_crawl_corpus(spark, cg.UNIT), workdir,
        CrawlConfig(callbacks=dict(ZHIFANG.callbacks)), spec=spec,
    )
    engine.seed(sim.make_seeds(cg.UNIT))
    cores = spark.sparkContext.defaultParallelism
    sizes = []
    while True:
        n = engine.step()
        if n == 0:
            break
        assert engine.round_profile["parse_tasks"] == min(cores, n)
        sizes.append(n)
    assert max(sizes) > cores  # some round is wider than the machine
    probes = engine.items("parse_probe").groupBy("stage").agg(
        F.max("pid").alias("top")
    )
    assert max(r["top"] for r in probes.collect()) < cores
    # the request-only fp/canon columns stay out of the items table
    assert engine.catalog.table("items_raw").read().columns == ITEMS_RAW_COLS
