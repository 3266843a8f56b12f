"""Image download path (SURVEY.md §3.3, M6): parity with the simulator's
file phase, per-row image invariants (PSNR>=40dB / caption equality / phash —
BASELINE.json input_hint), MERGE-back statuses, and skip/overwrite semantics.
"""

import os

import numpy as np
import pytest

from spiderman_spark import corpusgen as cg
from spiderman_spark import imagecodec as ic
from spiderman_spark import simulator as sim
from spiderman_spark.plans import download
from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine
from spiderman_spark.plans.download import (
    STATUS_FAIL,
    STATUS_OK,
    STATUS_PENDING,
    DownloadConfig,
    ImageDownloader,
)

SPEC = cg.UNIT


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    """One full page crawl producing the zhifang_file meta table."""
    wd = str(tmp_path_factory.mktemp("crawl"))
    corpus = cg.build_crawl_corpus(spark, SPEC)
    engine = CrawlEngine(
        spark, corpus, wd,
        CrawlConfig(callbacks={"list": True, "detail": False}, default_budget=8),
    )
    engine.seed(sim.make_seeds(SPEC))
    engine.run()
    return engine


def make_downloader(spark, wd, budget=4, overwrite=False):
    status_corpus = cg.build_crawl_corpus(spark, SPEC)
    image_corpus = cg.build_image_corpus(spark, SPEC)
    return ImageDownloader(
        spark, status_corpus, image_corpus, wd,
        DownloadConfig(default_budget=budget, overwrite=overwrite),
    )


def file_seeds_of(engine):
    """Deterministic job order: ORDER BY keyid (the determinism contract)."""
    rows = (
        engine.items("zhifang_file")
        .select("keyid", "file_url")
        .orderBy("keyid")
        .collect()
    )
    return [
        {"url": r["file_url"], "method": "GET", "callback": "file"} for r in rows
    ]


def test_download_parity_and_invariants(spark, workdir, crawled):
    dl = make_downloader(spark, workdir, budget=4)
    n = dl.make_job(crawled.items("zhifang_file"))
    assert n > 0
    summary = dl.run()

    # ---- parity vs the simulator's file phase (same ordered seed list)
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(SPEC),
        file_seeds_of(crawled),
        politeness=sim.Politeness(max_per_round=4, minsize=0),
        callbacks={"file": False},
    )
    got_order = [
        (r["rank"], r["round"], r["url"], r["host"], r["attempt"])
        for r in dl.crawl_order().orderBy("rank").collect()
    ]
    assert got_order == ref.crawl_order
    assert summary["rounds"] == ref.rounds
    got_counts = {(r["round"], r["host"]): r["n"] for r in dl.metrics().collect()}
    assert got_counts == ref.fetch_counts

    # ---- final statuses: OK == simulator downloads, FAIL == simulator failed
    fm = dl.file_meta()
    ok_urls = {r["file_url"] for r in fm.where(f"status = '{STATUS_OK}'").collect()}
    fail_urls = {r["file_url"] for r in fm.where(f"status = '{STATUS_FAIL}'").collect()}
    sim_ok = {d["url"] for d in ref.items.get("_downloaded", [])}
    sim_fail = {u for u, _ in ref.failed}
    assert ok_urls == sim_ok
    assert fail_urls == sim_fail
    assert fm.where(f"status = '{STATUS_PENDING}'").count() == 0
    # file_path written back for OK rows (J4 merge), empty for failures
    assert fm.where(f"status = '{STATUS_OK}' AND file_path = ''").count() == 0

    # ---- per-row image invariants (input_hint): decoded pixels vs ground
    # truth — exact for lossless, PSNR>=40dB for lossy; caption + phash equal
    imgs = dl.images().collect()
    assert {r["url"] for r in imgs} == sim_ok
    assert all(r["verified"] for r in imgs)
    for r in imgs:
        truth_px = ic.gen_pixels(SPEC.seed, r["image_id"], r["w"], r["h"])
        dec = ic.decode(bytes(r["bytes"]), r["fmt"])
        if r["fmt"] in ("rgb8", "png"):
            assert np.array_equal(dec, truth_px), r["image_id"]
        else:
            assert ic.psnr(dec, truth_px) >= 40.0, r["image_id"]
        assert r["caption"] == ic.gen_caption(SPEC.seed, r["image_id"])
        assert r["phash"] == ic.average_phash(truth_px)


def test_skip_if_exists_and_overwrite(spark, workdir, crawled):
    dl = make_downloader(spark, workdir, budget=16)
    dl.make_job(crawled.items("zhifang_file"))
    dl.run()
    n_images = dl.images().count()
    ok_before = dl.file_meta().where(f"status = '{STATUS_OK}'").count()

    # re-run without overwrite: everything already fetched is skipped (P8) —
    # only prior failures are requeued
    dl2 = make_downloader(spark, workdir, budget=16)
    n2 = dl2.make_job(
        dl.file_meta()
        .drop("status")
        .selectExpr("*", f"'{STATUS_PENDING}' as status")
    )
    fails = dl.file_meta().where(f"status = '{STATUS_FAIL}'").count()
    # queued = pending rows whose url is NOT in images (the skip set), deduped
    assert dl2.images().count() == n_images  # images kept
    assert n2 <= fails + 1 or n2 < n_images  # skipped the fetched majority
    assert (
        dl2.file_meta().where(f"status = '{STATUS_OK}'").count() >= ok_before
    )

    # overwrite=True: images table reset, full requeue
    dl3 = make_downloader(spark, workdir, budget=16, overwrite=True)
    n3 = dl3.make_job(crawled.items("zhifang_file"))
    assert n3 > n2
    dl3.run()
    assert dl3.images().count() == n_images


def test_download_resume_mid_run(spark, workdir, crawled):
    """Kill after round 1, resume, final state equals uninterrupted run."""
    dl = make_downloader(spark, workdir, budget=2)
    dl.make_job(crawled.items("zhifang_file"))
    dl.step()  # round 1 committed
    # simulate a crash with a partial (uncommitted-at-checkpoint) append
    dl.catalog.table("dl_order").append(
        spark.createDataFrame(
            [(999999, 99, "http://junk/x", "junk", 0)],
            "rank long, round int, url string, host string, attempt int",
        )
    )
    dl2 = make_downloader(spark, workdir, budget=2)
    assert dl2.resume()
    assert dl2.crawl_order().where("round = 99").count() == 0  # rolled back
    dl2.run()

    wd_ref = os.path.join(workdir, "uninterrupted")
    ref_dl = make_downloader(spark, wd_ref, budget=2)
    ref_dl.make_job(crawled.items("zhifang_file"))
    ref_dl.run()
    got = [
        (r["rank"], r["round"], r["url"]) for r in dl2.crawl_order().orderBy("rank").collect()
    ]
    want = [
        (r["rank"], r["round"], r["url"]) for r in ref_dl.crawl_order().orderBy("rank").collect()
    ]
    assert got == want
    got_fm = sorted(
        (r["file_url"], r["status"]) for r in dl2.file_meta().collect()
    )
    want_fm = sorted(
        (r["file_url"], r["status"]) for r in ref_dl.file_meta().collect()
    )
    assert got_fm == want_fm


def test_bucketed_merge_rewrites_only_touched_buckets(
    spark, workdir, crawled, monkeypatch
):
    """VERDICT fix: the per-round status MERGE must be O(touched buckets),
    not a full-table rewrite — untouched buckets' immutable files carry into
    the new snapshot verbatim (same paths, same bytes).  A UNIT file_meta
    fits one bucket at the default size, so buckets are shrunk to 2 rows."""
    import hashlib
    import os

    monkeypatch.setattr(download, "ROWS_PER_BUCKET", 2)
    dl = make_downloader(spark, workdir, budget=2)
    dl.make_job(crawled.items("zhifang_file"))
    tb = dl.catalog.table("file_meta")

    def snapshot_entries():
        m = tb._manifest()
        out = {}
        for e in m["files"]:
            b = tb._bucket_of(e)
            d = os.path.join(tb.root, e)
            digest = hashlib.md5()
            for fn in sorted(os.listdir(d)):
                if fn.endswith(".parquet"):
                    with open(os.path.join(d, fn), "rb") as fh:
                        digest.update(fn.encode())
                        digest.update(fh.read())
            out[b] = (e, digest.hexdigest())
        return out

    before = snapshot_entries()
    assert before and all(b is not None for b in before)  # bucketed layout
    dl.step()  # one round: merges a small batch of status updates
    after = snapshot_entries()
    untouched = [b for b in after if b in before and after[b][0] == before[b][0]]
    changed = [b for b in after if b not in untouched]
    # a budget-2 round touches far fewer buckets than the table has
    assert changed and len(changed) < len(before)
    # carried-over entries are the same immutable files, byte for byte
    for b in untouched:
        assert after[b][1] == before[b][1]
    assert len(untouched) > 0
    # and the merged table still reads back with every row accounted for
    assert dl.file_meta().count() == crawled.items("zhifang_file").count()


def test_make_job_sizes_buckets_to_rows(
    spark, workdir, tmp_path, crawled, monkeypatch
):
    """file_meta gets ceil(rows / ROWS_PER_BUCKET) buckets (at least one),
    each one parquet file, recorded in the table props; a run over several
    buckets (each round's MERGE rewriting only its batch's buckets) ends in
    the same file_meta as over one."""
    import math
    import os

    rows = crawled.items("zhifang_file")
    n = rows.count()

    def run_with_buckets(wd):
        dl = make_downloader(spark, wd)
        dl.make_job(rows)
        tb = dl.catalog.table("file_meta")
        entries = tb._manifest()["files"]
        for e in entries:  # one file per bucket
            files = os.listdir(os.path.join(tb.root, e))
            assert len([f for f in files if f.endswith(".parquet")]) == 1, e
        dl.run()
        final = sorted(
            (r["file_url"], r["keyid"], r["status"], r["file_path"])
            for r in dl.file_meta().collect()
        )
        return tb.props()["n_buckets"], len(entries), final

    n_buckets, n_entries, one_bucket = run_with_buckets(workdir)
    assert (n_buckets, n_entries) == (1, 1)
    monkeypatch.setattr(download, "ROWS_PER_BUCKET", 7)
    want = math.ceil(n / 7)
    assert want > 1
    n_buckets, n_entries, many_buckets = run_with_buckets(str(tmp_path))
    assert n_buckets == want
    assert 1 < n_entries <= want  # a bucket no url hashes to has no entry
    assert many_buckets == one_bucket
    assert any(st == STATUS_OK for _, _, st, _ in one_bucket)
