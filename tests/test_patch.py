"""Patch crawl (SURVEY.md §3.2): losses in the item tables are re-derived
relationally and re-crawled to completeness.
"""

import os

from pyspark.sql import functions as F

from spiderman_spark import corpusgen as cg
from spiderman_spark import simulator as sim
from spiderman_spark.plans import patch
from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

SPEC = cg.UNIT
CBS = {"list": True, "detail": False}


def crawl(spark, wd, seeds):
    engine = CrawlEngine(
        spark, cg.build_crawl_corpus(spark, SPEC), wd,
        CrawlConfig(callbacks=dict(CBS), default_budget=8),
    )
    engine.seed(seeds)
    engine.run()
    return engine


def test_patch_rederives_missing_work(spark, workdir):
    full = crawl(spark, os.path.join(workdir, "full"), sim.make_seeds(SPEC))
    list_full = full.items("zhifang_list")
    detail_full = full.items("zhifang_detail")

    # damage: drop every list row of pages {2, 4} and details of one page
    list_lost = list_full.where(~F.col("pagenum").isin("2", "4"))
    detail_lost = detail_full.join(
        list_full.where(F.col("pagenum") == "3").select(F.col("pkey").alias("fkey")),
        "fkey",
        "left_anti",
    )

    # relational re-derivation (A2 + J1)
    miss_pages = patch.missing_list_pages(spark, list_lost, SPEC.list_pages)
    assert [r["pagenum"] for r in miss_pages.collect()] == [2, 4]
    miss_det = patch.missing_details(list_lost, detail_lost)
    # page-3 details are missing; pages 2/4 rows are gone from list so they
    # can't appear in the detail patch (they return via the list patch)
    assert {r["pagenum"] for r in miss_det.collect()} == {"3"}

    seeds = patch.make_patch_seeds(
        spark, list_lost, detail_lost, SPEC.list_pages,
        lambda p: cg.list_url(SPEC, p),
    )
    assert [s["callback"] for s in seeds[:2]] == ["list", "list"]
    patched = crawl(spark, os.path.join(workdir, "patch"), seeds)

    # union of surviving + patched tables reaches full coverage
    list_all = list_lost.unionByName(patched.items("zhifang_list"))
    detail_all = detail_lost.unionByName(patched.items("zhifang_detail"))
    assert {r["pagenum"] for r in list_all.select("pagenum").distinct().collect()} == {
        str(p) for p in range(1, SPEC.list_pages + 1)
    }
    # every discovered pkey has a detail row (modulo urls whose detail fetch
    # failed persistently in the corpus — those fail in the full crawl too)
    full_pkeys = {r["pkey"] for r in list_full.select("pkey").distinct().collect()}
    full_fkeys = {r["fkey"] for r in detail_full.select("fkey").distinct().collect()}
    got_fkeys = {r["fkey"] for r in detail_all.select("fkey").distinct().collect()}
    assert got_fkeys == full_fkeys
    assert full_pkeys - got_fkeys == full_pkeys - full_fkeys  # same persistent failures

    # and the list-item multiset for recovered pages matches the original
    rec = patched.items("zhifang_list").where(F.col("pagenum").isin("2", "4"))
    orig = list_full.where(F.col("pagenum").isin("2", "4"))
    cols = ["title", "desc", "location", "price", "detail_full_url", "pkey", "pagenum"]
    assert sorted(map(tuple, rec.select(*cols).collect())) == sorted(
        map(tuple, orig.select(*cols).collect())
    )


def test_patch_seed_df_parity_with_list_path(spark, workdir):
    """VERDICT r2 #5: the DataFrame-native patch path (make_patch_seed_df +
    seed_from_df — no driver collect) must produce a frontier byte-identical
    to the Python-list path, and the subsequent crawl identical results."""
    full = crawl(spark, os.path.join(workdir, "full"), sim.make_seeds(SPEC))
    list_lost = full.items("zhifang_list").where(~F.col("pagenum").isin("2", "4"))
    detail_lost = full.items("zhifang_detail").join(
        full.items("zhifang_list").where(F.col("pagenum") == "3")
        .select(F.col("pkey").alias("fkey")),
        "fkey", "left_anti",
    )

    seeds = patch.make_patch_seeds(
        spark, list_lost, detail_lost, SPEC.list_pages,
        lambda p: cg.list_url(SPEC, p),
    )
    a = CrawlEngine(
        spark, cg.build_crawl_corpus(spark, SPEC), os.path.join(workdir, "a"),
        CrawlConfig(callbacks=dict(CBS), default_budget=8),
    )
    a.seed(seeds)

    seed_df = patch.make_patch_seed_df(
        spark, list_lost, detail_lost, SPEC.list_pages,
        lambda p: cg.list_url(SPEC, p),
    )
    b = CrawlEngine(
        spark, cg.build_crawl_corpus(spark, SPEC), os.path.join(workdir, "b"),
        CrawlConfig(callbacks=dict(CBS), default_budget=8),
    )
    n = b.seed_from_df(seed_df, order_by=["k0", "k1", "k2"])
    assert n == len(seeds)

    fa = sorted(map(tuple, a.catalog.table("frontier").read().collect()))
    fb = sorted(map(tuple, b.catalog.table("frontier").read().collect()))
    assert fa == fb  # byte-identical frontier incl. seq order and meta_json

    a.run()
    b.run()
    oa = sorted(map(tuple, a.crawl_order().collect()))
    ob = sorted(map(tuple, b.crawl_order().collect()))
    assert oa == ob


def test_seed_from_df_scales_past_driver_lists(spark, workdir):
    """A missing-set size that would embarrass a driver list round-trip:
    50k synthetic never-detailed rows seed distributed with correct
    deterministic seq assignment."""
    n = 50_000
    list_items = (
        spark.range(n)
        .select(
            F.concat(F.lit("http://h"), (F.col("id") % 97).cast("string"),
                     F.lit(".test/detail/"), F.col("id").cast("string")).alias("detail_full_url"),
            (F.col("id") % 113).cast("string").alias("pagenum"),
            F.upper(F.md5(F.col("id").cast("string"))).alias("pkey"),
        )
    )
    empty_details = spark.createDataFrame([], "fkey string")
    seed_df = patch.make_patch_seed_df(spark, list_items, empty_details, 0, lambda p: "")
    engine = CrawlEngine(
        spark, cg.build_crawl_corpus(spark, SPEC), workdir,
        CrawlConfig(callbacks=dict(CBS), default_budget=8),
    )
    got = engine.seed_from_df(seed_df, order_by=["k0", "k1", "k2"])
    assert got == n
    frontier = engine.catalog.table("frontier").read()
    assert frontier.count() == n
    # seq is a dense 0..n-1 permutation following the (k0, pagenum, pkey) order
    assert tuple(frontier.agg(F.min("seq"), F.max("seq")).collect()[0]) == (0, n - 1)
    assert frontier.select("seq").distinct().count() == n
    import json as _json

    sample = frontier.where(F.col("seq") < 500).orderBy("seq").collect()
    keys = [
        (int(_json.loads(r["meta_json"])["pagenum"]), _json.loads(r["meta_json"])["fkey"])
        for r in sample
    ]
    assert keys == sorted(keys)
    assert all(r["callback"] == "detail" for r in sample)


def test_patch_same_workdir_preserves_state(spark, workdir):
    """ADVICE fix: seeding patch work into the SAME workdir must not destroy
    the previously crawled items/url_seen (frontier-only reseed)."""
    engine = crawl(spark, workdir, sim.make_seeds(SPEC))
    n_list = engine.items("zhifang_list").count()
    n_detail = engine.items("zhifang_detail").count()
    seen_before = {r["fp"] for r in engine.url_seen().collect()}
    rounds_before = engine.round
    assert n_list > 0 and n_detail > 0 and seen_before

    # patch-crawl two list pages into the same workdir
    seeds = [
        {"url": cg.list_url(SPEC, p), "callback": "list", "meta": {"pagenum": str(p)}}
        for p in (2, 4)
    ]
    engine.seed(seeds, preserve_state=True)
    engine.run()

    # prior state survived; the patch appended on top of it
    assert engine.items("zhifang_list").count() > n_list
    assert engine.items("zhifang_detail").count() >= n_detail
    assert engine.round > rounds_before
    # gated children of the re-crawled pages dedup against the preserved
    # url_seen (reference patch-job behavior — the Redis dupefilter is not
    # cleared, `SP_JOBS/zhifang_job_patch.py`): the full crawl already admitted
    # every detail, so the patch admits NO new fingerprints and re-fetches no
    # detail page
    assert {r["fp"] for r in engine.url_seen().collect()} == seen_before
    patch_rows = [r for r in engine.crawl_order().collect() if r["round"] > rounds_before]
    assert patch_rows and all("/detail/" not in r["url"] for r in patch_rows)
