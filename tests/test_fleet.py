"""CrawlFleet (plans/fleet.py): host-sharded multi-worker crawl must produce
the SAME result sets as the single-engine crawl — fetched-URL multiset,
url_seen fingerprints, item multisets, failed set (global FIFO order is
per-worker, as in the reference's N scrapy processes).
"""

import json
import os

import pytest
from pyspark.sql import functions as F

from spiderman_spark import corpusgen as cg
from spiderman_spark import simulator as sim
from spiderman_spark.plans import fleet
from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

SPEC = cg.UNIT
CBS = {"list": True, "detail": False}


def _shard_seeds(spark, seeds, workers):
    df = spark.createDataFrame(
        [(i, s["url"].split("/", 3)[2]) for i, s in enumerate(seeds)],
        "i long, host string",
    ).withColumn("_w", fleet.shard_of_expr(F.col("host"), workers))
    by_w = {r["i"]: r["_w"] for r in df.collect()}
    out = [[] for _ in range(workers)]
    for i, s in enumerate(seeds):
        out[by_w[i]].append(s)
    return out


def _collect_sets(order_df, seen_df, failed_df):
    urls = sorted(r["url"] for r in order_df.collect())
    seen = {r["fp"] for r in seen_df.collect()}
    failed = sorted(r["url"] for r in failed_df.collect())
    return urls, seen, failed


def test_fleet_two_workers_equals_single_engine(spark, workdir):
    corpus = cg.build_crawl_corpus(spark, SPEC)
    seeds = sim.make_seeds(SPEC)

    single = CrawlEngine(
        spark, corpus, os.path.join(workdir, "single"),
        CrawlConfig(callbacks=dict(CBS), default_budget=4),
    )
    single.seed(seeds)
    single.run()
    s_urls, s_seen, s_failed = _collect_sets(
        single.crawl_order(), single.url_seen(), single.failed()
    )

    W = 2
    fd = os.path.join(workdir, "fleet")
    os.makedirs(fd, exist_ok=True)
    engines = [
        CrawlEngine(
            spark, corpus, os.path.join(fd, f"worker{w}"),
            CrawlConfig(callbacks=dict(CBS), default_budget=4),
            shard=(w, W), fleet_dir=fd,
        )
        for w in range(W)
    ]
    for e, sds in zip(engines, _shard_seeds(spark, seeds, W)):
        e.seed(sds)

    # drive the two workers concurrently by alternation until quiescent
    for _ in range(200):
        progressed = 0
        for e in engines:
            progressed += e.ingest_handoff()
            progressed += e.step()
        exported = sum(e.handoff_exported for e in engines)
        consumed = sum(e.handoff_consumed for e in engines)
        if progressed == 0 and exported == consumed:
            break
    else:
        pytest.fail("fleet did not quiesce")

    f_urls = sorted(
        u
        for e in engines
        for u in (r["url"] for r in e.crawl_order().collect())
    )
    f_seen = set().union(*({r["fp"] for r in e.url_seen().collect()} for e in engines))
    f_failed = sorted(
        u for e in engines for u in (r["url"] for r in e.failed().collect())
    )
    assert f_urls == s_urls  # same fetch multiset (incl. retries)
    assert f_seen == s_seen
    assert f_failed == s_failed
    # host ownership respected: every fetch happened on the owning worker
    for w, e in enumerate(engines):
        hosts = {r["host"] for r in e.crawl_order().collect()}
        if hosts:
            got = spark.createDataFrame([(h,) for h in hosts], "host string")
            owned = got.withColumn("_w", fleet.shard_of_expr(F.col("host"), W))
            assert all(r["_w"] == w for r in owned.collect())
    # item multisets match (union across workers)
    for tb in ("zhifang_list", "zhifang_detail", "zhifang_file"):
        cols = None
        f_rows = []
        for e in engines:
            df = e.items(tb).drop("keyid", "ctime")
            cols = cols or sorted(df.columns)
            f_rows += [tuple(r[c] for c in cols) for r in df.select(*cols).collect()]
        sdf = single.items(tb).drop("keyid", "ctime")
        s_rows = [tuple(r[c] for c in cols) for r in sdf.select(*cols).collect()]
        assert sorted(f_rows) == sorted(s_rows), tb


def _run_lockstep_fleet(spark, fd, workers=2, budget=4):
    """In-process W-worker fleet driven by deterministic round alternation;
    returns the engines after quiescence."""
    corpus = cg.build_crawl_corpus(spark, SPEC)
    seeds = sim.make_seeds(SPEC)
    os.makedirs(fd, exist_ok=True)
    engines = [
        CrawlEngine(
            spark, corpus, os.path.join(fd, f"worker{w}"),
            CrawlConfig(callbacks=dict(CBS), default_budget=budget),
            shard=(w, workers), fleet_dir=fd,
        )
        for w in range(workers)
    ]
    for e, sds in zip(engines, _shard_seeds(spark, seeds, workers)):
        e.seed(sds)
    for _ in range(200):
        progressed = 0
        for e in engines:
            progressed += e.ingest_handoff()
            progressed += e.step()
        exported = sum(e.handoff_exported for e in engines)
        consumed = sum(e.handoff_consumed for e in engines)
        if progressed == 0 and exported == consumed:
            return engines
    pytest.fail("fleet did not quiesce")


def test_fleet_per_worker_order_contract(spark, workdir):
    """VERDICT r2 #8 — the per-worker FIFO contract claimed in
    plans/fleet.py, as actually guaranteed:

    1. determinism: two runs under the same alternation schedule produce
       bit-identical per-worker crawl_order sequences;
    2. seeds fetch in routed order (each worker's seed ranks are FIFO);
    3. BFS causality: every fetched child's parent page was fetched at an
       earlier per-worker rank;
    4. children of one parent keep DOM (child_idx) order.

    (Strict equality with the single-engine order filtered per shard does
    NOT hold — a peer's export lands one alternation late, the same race N
    scrapy workers have on the shared Redis list; see fleet.py docstring.)"""
    runs = []
    for tag in ("a", "b"):
        engines = _run_lockstep_fleet(spark, os.path.join(workdir, f"fleet-{tag}"))
        runs.append(
            [
                [
                    (r["rank"], r["round"], r["url"], r["attempt"])
                    for r in e.crawl_order().orderBy("rank").collect()
                ]
                for e in engines
            ]
        )
    assert runs[0] == runs[1]  # bit-deterministic per worker

    seeds = sim.make_seeds(SPEC)
    routed = _shard_seeds(spark, seeds, 2)
    for w, order in enumerate(runs[0]):
        urls = [u for _, _, u, _ in order]
        # first fetch position per url (later occurrences are retries)
        first_pos = {u: i for i, u in reversed(list(enumerate(urls)))}
        # 2. routed seeds appear in order among the worker's fetches
        positions = [first_pos[s["url"]] for s in routed[w]]
        assert positions and positions == sorted(positions)
        # 3+4. every detail's parent list page (when fetched on this worker)
        # precedes it, and a parent's details keep DOM (j) order
        by_parent: dict = {}
        by_parent_host: dict = {}
        for u, i in first_pos.items():
            if "/detail/" in u:
                host = u.split("/", 3)[2]
                p, j = u.rsplit("/", 2)[-2:]
                by_parent.setdefault(p, []).append(i)
                # DOM order is only total per (parent, host): politeness may
                # defer a saturated host's low-j child past another host's
                by_parent_host.setdefault((p, host), []).append((i, int(j)))
        parent_pos = {
            u.rsplit("/", 1)[-1]: i for u, i in first_pos.items() if "/list/" in u
        }
        checked = 0
        for p, kid_positions in by_parent.items():
            if p in parent_pos:
                assert parent_pos[p] < min(kid_positions)
                checked += 1
        assert checked > 0
        for kids in by_parent_host.values():
            kids.sort()
            assert [j for _, j in kids] == sorted(j for _, j in kids)


def test_fleet_dir_reuse_is_reset(spark, workdir):
    """ADVICE r2 (medium): a second run_fleet over the SAME fleet_dir must
    clear the stale STOP/status/handoff state instead of aborting or
    double-ingesting."""
    corpus_path = os.path.join(workdir, "corpus")
    cg.build_crawl_corpus(spark, SPEC).write.mode("overwrite").parquet(corpus_path)
    fd = os.path.join(workdir, "fleet")
    r1 = fleet.run_fleet(
        spark, fd, corpus_path, sim.make_seeds(SPEC),
        workers=2, cores_per_worker=2, budget=8, callbacks=dict(CBS),
    )
    assert os.path.exists(os.path.join(fd, "STOP"))
    r2 = fleet.run_fleet(
        spark, fd, corpus_path, sim.make_seeds(SPEC),
        workers=2, cores_per_worker=2, budget=8, callbacks=dict(CBS),
    )
    assert r2["fetched"] == r1["fetched"]


def test_fleet_subprocess_coordinator(spark, workdir, tmp_path):
    """End-to-end: real worker processes (own JVMs) + coordinator quiescence.
    Small corpus, 2 workers x 2 cores."""
    corpus_path = os.path.join(workdir, "corpus")
    cg.build_crawl_corpus(spark, SPEC).write.mode("overwrite").parquet(corpus_path)
    fd = os.path.join(workdir, "fleet")
    res = fleet.run_fleet(
        spark, fd, corpus_path, sim.make_seeds(SPEC),
        workers=2, cores_per_worker=2, budget=8, callbacks=dict(CBS),
    )
    ref = sim.simulate_crawl(
        sim.corpus_as_dict(SPEC), sim.make_seeds(SPEC),
        politeness=sim.Politeness(max_per_round=8),
        callbacks={**CBS, "file": False},
    )
    assert res["workers"] == 2
    assert res["fetched"] == len(ref.crawl_order)
    # two-phase termination: STOP (quiescence) then EXIT (confirmed cut);
    # every status must have reached ready=True with exports balanced
    assert os.path.exists(os.path.join(fd, "STOP"))
    assert os.path.exists(os.path.join(fd, "EXIT"))
    sts = fleet._statuses(fd, 2)
    assert all(s["ready"] for s in sts)
    assert sum(s["exported"] for s in sts) == sum(s["consumed"] for s in sts)


def test_coordinate_two_phase_exit_barrier(tmp_path):
    """The reviewed race, deterministically: after STOP, a worker's drain
    exports a drop (counters go imbalanced) — EXIT must NOT appear until the
    peer has consumed it and the all-ready balanced snapshot holds across
    two polls.  Pure status-file simulation; no Spark."""
    import json
    import threading
    import time as _time

    fd = str(tmp_path)
    os.makedirs(os.path.join(fd, "status"))

    def put(w, **kw):
        base = {
            "worker": w, "rounds": 1, "fetched": 5, "idle": 3,
            "consumed": 0, "exported": 0, "ready": False,
        }
        base.update(kw)
        tmp = os.path.join(fd, "status", f"w{w}.json.tmp")
        with open(tmp, "w") as fh:
            json.dump(base, fh)
        os.replace(tmp, os.path.join(fd, "status", f"w{w}.json"))

    def wait_for(path, timeout=15.0):
        t0 = _time.monotonic()
        while not os.path.exists(path):
            assert _time.monotonic() - t0 < timeout, f"timed out waiting for {path}"
            _time.sleep(0.1)

    put(0)
    put(1)
    t = threading.Thread(target=fleet.coordinate, args=(fd, 2), daemon=True)
    t.start()
    stop, exit_ = os.path.join(fd, "STOP"), os.path.join(fd, "EXIT")
    wait_for(stop)
    assert not os.path.exists(exit_)
    # post-STOP: w0's drain exported one drop; both republish ready=True but
    # the fleet is imbalanced (exported 1, consumed 0) -> EXIT must wait
    put(0, exported=1, ready=True)
    put(1, ready=True)
    _time.sleep(2.5)
    assert not os.path.exists(exit_), "EXIT created while a drop was unconsumed"
    # w1 consumes the drop -> balanced, all ready, stable -> EXIT
    put(1, consumed=1, ready=True)
    t.join(timeout=15)
    assert not t.is_alive()
    assert os.path.exists(exit_)
