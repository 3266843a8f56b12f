"""Two-phase global rank (operators/ranks.py): equals the single-window rank
bit-for-bit, with NO single-partition Exchange in the plan — the scale
property the crawl round relies on (VERDICT round-1 item 3).
"""

import os
import random

from spiderman_spark.operators import ranks

from .test_plans import plan_of


def _ranked(spark, rows, nparts):
    df = spark.createDataFrame(rows, "seq long, payload string").repartition(7)
    part = ranks.range_prepare(df, ["seq"], nparts).persist()
    offsets, total = ranks.collect_offsets(part)
    out = ranks.with_rank(part, ["seq"], "rank", offsets, base=100)
    return part, out, offsets, total


def test_rank_matches_global_window(spark):
    rng = random.Random(5)
    seqs = rng.sample(range(100000), 500)
    rows = [(s, f"p{s}") for s in seqs]
    part, out, offsets, total = _ranked(spark, rows, 8)
    assert total == 500
    got = {r["seq"]: r["rank"] for r in out.collect()}
    want = {s: 100 + i + 1 for i, s in enumerate(sorted(seqs))}
    assert got == want
    part.unpersist()


def test_rank_empty_and_single_partition_inputs(spark):
    part, out, offsets, total = _ranked(spark, [], 8)
    assert total == 0 and out.count() == 0
    part.unpersist()
    part, out, offsets, total = _ranked(spark, [(3, "a"), (1, "b")], 1)
    assert [r["rank"] for r in out.orderBy("seq").collect()] == [101, 102]
    part.unpersist()


def test_rank_plan_has_no_single_partition_exchange(spark):
    rows = [(s, f"p{s}") for s in range(1000)]
    part, out, offsets, total = _ranked(spark, rows, 8)
    plan = plan_of(out)
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in plan.lower()
    part.unpersist()


def test_hist_rank_matches_global_window(spark):
    """The fused histogram rank (round-4: one head action instead of the
    sampling + offsets pair) must equal the single-window rank bit-for-bit,
    including mixed priorities and every shift."""
    from pyspark.sql import functions as F

    rng = random.Random(11)
    seqs = rng.sample(range(1_000_000), 700)
    rows = [(s, rng.choice([0, 0, 0, -2, 5]), f"p{s}") for s in seqs]
    df = spark.createDataFrame(rows, "seq long, priority int, payload string").repartition(7)
    df = df.withColumn("_np", -F.coalesce(F.col("priority"), F.lit(0)))
    want = {
        s: i + 1 + 100
        for i, (s, _) in enumerate(
            sorted(((s, -p) for s, p, _ in rows), key=lambda t: (t[1], t[0]))
        )
    }
    for shift in (0, 4, 10, 20, 63):
        hoffs, total, mx = ranks.hist_offsets(df, "_np", "seq", shift)
        assert total == 700 and mx <= 700
        out = ranks.with_hist_rank(df, "_np", "seq", shift, hoffs, "rank", base=100)
        got = {r["seq"]: r["rank"] for r in out.collect()}
        assert got == want, f"shift={shift}"


def test_hist_rank_plan_has_no_single_partition_exchange(spark):
    from pyspark.sql import functions as F

    rows = [(s, 0, f"p{s}") for s in range(1000)]
    df = spark.createDataFrame(rows, "seq long, priority int, payload string")
    df = df.withColumn("_np", -F.col("priority"))
    hoffs, total, mx = ranks.hist_offsets(df, "_np", "seq", 4)
    out = ranks.with_hist_rank(df, "_np", "seq", 4, hoffs, "rank")
    plan = plan_of(out)
    assert "Exchange SinglePartition" not in plan


def test_hist_skew_fallback_in_step(spark, workdir, monkeypatch):
    """A degenerate seq distribution (every eligible row in one bucket) must
    trip HIST_MAX_GROUP and take the exact range-partitioned path — same
    crawl result either way."""
    from spiderman_spark import corpusgen as cg
    from spiderman_spark import simulator as sim
    from spiderman_spark.plans import rounds
    from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

    spec = cg.UNIT
    range_ranks = []  # collect_offsets calls: only the fallback ranks by range
    real_collect = ranks.collect_offsets
    monkeypatch.setattr(
        ranks, "collect_offsets",
        lambda part: range_ranks.append(1) or real_collect(part),
    )
    results, fallbacks = [], []
    for tag, hist_max in (("hist", 1 << 17), ("fallback", 1)):
        monkeypatch.setattr(rounds, "HIST_MAX_GROUP", hist_max)
        range_ranks.clear()
        engine = CrawlEngine(
            spark, cg.build_crawl_corpus(spark, spec), os.path.join(workdir, tag),
            CrawlConfig(callbacks={"list": True, "detail": False}, default_budget=4),
        )
        engine.seed(sim.make_seeds(spec))
        engine.run()
        results.append(
            [
                (r["rank"], r["round"], r["url"], r["attempt"])
                for r in engine.crawl_order().orderBy("rank").collect()
            ]
        )
        fallbacks.append(len(range_ranks))
    assert results[0] == results[1]
    assert fallbacks[0] == 0 and fallbacks[1] > 0


def test_politeness_single_phase_equals_two_phase(spark):
    """two_phase=False (the small-frontier shuffle saving) is the identical
    per-host top-B selection."""
    from spiderman_spark.operators import politeness

    rng = random.Random(3)
    rows = [
        (i, f"http://h{rng.randrange(5)}.test/{i}", f"h{rng.randrange(5)}.test",
         rng.choice([0, 0, 3]))
        for i in range(400)
    ]
    pending = spark.createDataFrame(
        rows, "seq long, url string, host string, priority int"
    )
    key = lambda r: (r["host"], r["seq"])
    a = sorted(
        (r["seq"], r["is_eligible"])
        for r in politeness.select_eligible(pending, 7, None, 8, two_phase=True).collect()
    )
    b = sorted(
        (r["seq"], r["is_eligible"])
        for r in politeness.select_eligible(pending, 7, None, 8, two_phase=False).collect()
    )
    assert a == b
    assert sum(1 for _, e in a if e) > 0


def test_round_frames_have_no_single_partition_exchange(spark, workdir):
    """End-to-end: the crawl round's ranked/children frames (the former
    global windows) must carry no single-partition Exchange."""
    from spiderman_spark import corpusgen as cg
    from spiderman_spark import simulator as sim
    from spiderman_spark.operators import politeness
    from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

    spec = cg.UNIT
    engine = CrawlEngine(
        spark, cg.build_crawl_corpus(spark, spec), workdir,
        CrawlConfig(callbacks={"list": True, "detail": False}, default_budget=4),
    )
    engine.seed(sim.make_seeds(spec))
    pending = engine._read("frontier", "seq long, url string, host string,"
                           " method string, callback string, req_body string,"
                           " meta_json string, attempt int")
    tagged = politeness.select_eligible(pending, 4, None, 8)
    eligible = tagged.where("is_eligible").drop("is_eligible")
    epart = ranks.range_prepare(eligible, ["seq"], 8)
    offsets, n = ranks.collect_offsets(epart)
    ranked = ranks.with_rank(epart, ["seq"], "rank", offsets)
    plan = plan_of(ranked)
    assert "Exchange SinglePartition" not in plan
    assert n > 0
