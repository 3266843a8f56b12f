"""M7 — checkpoint/resume: kill the crawl after round k (with a torn partial
append), or crash either engine inside a round's commit wave, resume from the
snapshot manifests, and end bit-identical to an uninterrupted run (north
rule: resumable from snapshot checkpoints).
"""

import os

import pytest

from spiderman_spark import corpusgen as cg
from spiderman_spark import simulator as sim
from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine
from spiderman_spark.tableio import ParquetManifestTable

from .test_crawl_parity import DEDUP_CBS, assert_parity
from .test_download import crawled, make_downloader  # noqa: F401 (fixture)

SPEC = cg.UNIT


def build(spark, wd):
    corpus = cg.build_crawl_corpus(spark, SPEC)
    return CrawlEngine(
        spark, corpus, wd,
        CrawlConfig(callbacks=dict(DEDUP_CBS), default_budget=3),
    )


def assert_crawl_parity(engine, seeds):
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(SPEC), seeds,
        politeness=sim.Politeness(max_per_round=3),
        callbacks={**DEDUP_CBS, "file": False},
    )
    # a resumed run() reports only post-resume rounds; take the table's truth
    full_summary = {"rounds": engine.round, "fetched": engine.crawl_order().count()}
    assert_parity(engine, full_summary, ref)


def data_files(table) -> int:
    """Parquet files of the table's current snapshot."""
    return sum(
        1
        for e in table._manifest()["files"]
        for f in os.listdir(os.path.join(table.root, e))
        if f.endswith(".parquet")
    )


def test_crawl_kill_resume_bit_identical(spark, workdir):
    seeds = sim.make_seeds(SPEC)

    engine = build(spark, workdir)
    engine.seed(seeds)
    engine.step()
    engine.step()  # two committed rounds
    # torn write: a crash mid-round leaves appends past the checkpoint
    engine.catalog.table("crawl_order").append(
        spark.createDataFrame(
            [(12345, 777, "http://torn/x", "torn", 0, "", "")],
            "rank long, round int, url string, host string, attempt int,"
            " ua string, cookie string",
        )
    )
    engine.catalog.table("url_seen").append(
        spark.createDataFrame(
            [("deadbeef", 1, "http://torn/x")], "fp string, url_hash long, url string"
        )
    )

    resumed = build(spark, workdir)
    assert resumed.resume()
    assert resumed.round == 2
    assert resumed.crawl_order().where("round = 777").count() == 0
    assert resumed.url_seen().where("fp = 'deadbeef'").count() == 0
    # the frontier-size bound and the compaction gate come back as they were:
    # the bound picks one politeness phase and sizes the frontier write
    assert resumed._pending_est == engine._pending_est
    assert resumed._seen_appended == engine._seen_appended
    assert resumed.step() > 0
    assert data_files(resumed.catalog.table("frontier")) == 1
    resumed.run()
    assert_crawl_parity(resumed, seeds)


class WaveCrash(Exception):
    pass


@pytest.mark.parametrize("kind", ["crawl", "download"])
def test_crash_inside_the_wave_resumes(spark, workdir, tmp_path, request, monkeypatch, kind):
    """Round 2's frontier replace commits and then raises: the wave's other
    writes commit too, the checkpoint does not.  A new engine resumes from
    round 1's checkpoint and ends as an uninterrupted run does."""
    if kind == "crawl":
        seeds = sim.make_seeds(SPEC)
        frontier, order = "frontier", "crawl_order"

        def make(wd):
            return build(spark, wd)

        def start(eng):
            eng.seed(seeds)
    else:
        file_meta = request.getfixturevalue("crawled").items("zhifang_file")
        frontier, order = "dl_frontier", "dl_order"

        def make(wd):
            return make_downloader(spark, wd, budget=2)

        def start(eng):
            eng.make_job(file_meta)

    engine = make(workdir)
    start(engine)
    assert engine.step() > 0  # round 1 committed
    versions = {t: engine.catalog.table(t).current_version() for t in (frontier, order)}

    real_replace = ParquetManifestTable.replace

    def replace_then_crash(self, df, props=None):
        v = real_replace(self, df, props)
        if self.name == frontier:
            raise WaveCrash(self.name)
        return v

    monkeypatch.setattr(ParquetManifestTable, "replace", replace_then_crash)
    with pytest.raises(WaveCrash):
        engine.step()
    monkeypatch.undo()
    for t, v in versions.items():  # round 2 committed past the checkpoint
        assert engine.catalog.table(t).current_version() > v, t

    resumed = make(workdir)
    assert resumed.resume()
    assert resumed.round == 1
    resumed.run()

    if kind == "crawl":
        assert_crawl_parity(resumed, seeds)
        return
    ref = make(str(tmp_path))
    start(ref)
    ref.run()

    def state(dl):
        order_rows = [
            (r["rank"], r["round"], r["url"], r["host"], r["attempt"])
            for r in dl.crawl_order().orderBy("rank").collect()
        ]
        meta = sorted(
            (r["file_url"], r["keyid"], r["status"], r["file_path"])
            for r in dl.file_meta().collect()
        )
        images = sorted(r["url"] for r in dl.images().select("url").collect())
        return order_rows, meta, images

    assert state(resumed) == state(ref)


def test_resume_is_noop_after_clean_finish(spark, workdir):
    engine = build(spark, workdir)
    engine.seed(sim.make_seeds(SPEC))
    engine.run()
    order_before = engine.crawl_order().count()
    again = build(spark, workdir)
    assert again.resume()
    assert again.step() == 0  # frontier exhausted — nothing re-fetched
    assert again.crawl_order().count() == order_before
