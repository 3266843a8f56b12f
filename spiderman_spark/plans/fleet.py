"""CrawlFleet — the reference's multi-worker crawl (`SP_JOBS/job.py -n N`,
subprocess/SSH fan-out at `job.py:79-109`) as N host-sharded Spark workers.

Architecture (scrapy-redis's shared-Redis model, re-expressed shared-nothing):

- Host ownership: worker ``w`` of ``W`` owns every host with
  ``pmod(xxhash64(host), W) == w``.  Politeness (per-host budget) and the
  URL-seen dedup gate are *functions of the host/url*, so both stay entirely
  local to the owning worker — no coordination needed for correctness.
- Each worker runs a private ``CrawlEngine`` (own workdir, own SparkSession /
  JVM — the executor-process unit a real cluster scales by).
- Cross-host discovery: children parsed on worker w but owned by worker v are
  exported to ``<fleet>/handoff/to{v}/`` as parquet drops (the analogue of
  RPUSHing onto the shared Redis list); v ingests new drops at the top of its
  next round through the same dedup gate + sparse-seq admission as local
  children.
- Termination: a worker is *idle* when its frontier is empty and it has
  ingested every handoff file addressed to it.  The coordinator stops the
  fleet when all workers are simultaneously idle and every exported file has
  been consumed — the idle-close extension (`SP/scrapy_redis_extensions.py:
  63-78`) generalized to W workers.

Equivalence contract (tested at UNIT scale): the fleet's fetched-URL multiset,
url_seen set, item multiset, and failed set equal the single-engine crawl's.
Global FIFO *order* is only defined per worker — exactly as in the reference,
where N scrapy processes pop from one Redis list in racy order
(`README.md:103` BFS is per-process there too).  Even under lockstep round
alternation a worker's order is NOT the single-engine order filtered to its
hosts: a child exported by a peer lands in the inbox one alternation later
than local children of the same BFS round, so when its parent's global rank
precedes the local parents', the filtered orders diverge — the same race a
late RPUSH from a sibling scrapy process exhibits upstream.  What IS
guaranteed (and tested): per-worker runs are bit-deterministic for a fixed
alternation schedule, seeds are fetched in routed order, children of one
parent stay in DOM order, and a parent's fetch precedes all its children
(BFS causality).

Scale posture: adding workers multiplies frontier capacity with no shared
mutable state beyond append-only handoff files; each worker's per-round
driver barrier is paid concurrently.  This is the N→4N-executor axis of the
north rule, emulated with OS processes in the sandbox.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time


def shard_of_expr(host_col, workers: int, host_map: dict | None = None):
    """Worker owning a host: explicit assignment (weighted bin-packing map)
    when provided, else hash pmod.  Unmapped hosts fall back to the hash."""
    from pyspark.sql import functions as F

    base = F.pmod(F.xxhash64(host_col), F.lit(workers))
    if not host_map:
        return base
    # ONE parsed expression for the whole assignment map: create_map(*lits)
    # costs 2 py4j round trips per host, and _split_foreign rebuilds this
    # per ROUND per worker — at 1024 mapped hosts that was ~2k driver calls
    # (~0.5 s) of per-round fixed cost in every sharded fleet worker
    from ..functions.sqllit import lit_str_map

    m = {str(h): int(v) for h, v in host_map.items()}
    return F.coalesce(lit_str_map(m)[host_col], base)


def plan_host_assignment(host_counts, workers: int) -> dict:
    """Explicit skew handling (north rule): greedy LPT bin-packing of hosts
    onto workers by page weight.  Hash sharding leaves ±5-10%% load lumps even
    with 10^3 uniform hosts (measured); with weights — from the corpus here,
    from frontier/crawl-history statistics in production — the max worker
    share approaches 1/W.  A single host is never split (politeness is
    per-host-per-owner, so ownership must stay whole)."""
    loads = [0] * workers
    out = {}
    for h, c in sorted(host_counts, key=lambda x: (-x[1], x[0])):
        w = min(range(workers), key=loads.__getitem__)
        out[h] = w
        loads[w] += c
    return out


STATUS_POLL_S = 0.5

# post-STOP orphan guard (ADVICE): if the coordinator dies between writing
# STOP and EXIT, workers must not hang forever in the phase-2 wait.  The
# coordinator touches <fleet>/HEARTBEAT every poll; a worker whose phase-2
# wait sees the heartbeat go stale (or never appear) past this bound exits
# with an error instead of idling as an orphaned JVM.
ORPHAN_TIMEOUT_S = 600.0


def _orphan_check(fleet_dir: str, waited_s: float, orphan_timeout_s: float) -> None:
    """Raise when the coordinator looks dead: heartbeat file stale past the
    bound, or (no heartbeat ever written — e.g. a harness driving STOP/EXIT
    by hand) the phase-2 wait itself exceeding the bound."""
    hb = os.path.join(fleet_dir, "HEARTBEAT")
    try:
        age = time.time() - os.path.getmtime(hb)
    except OSError:
        age = None
    if (age is not None and age > orphan_timeout_s) or (
        age is None and waited_s > orphan_timeout_s
    ):
        raise RuntimeError(
            "fleet worker orphaned: coordinator heartbeat "
            + (f"stale for {age:.0f}s" if age is not None else "never appeared")
            + f" (> {orphan_timeout_s:.0f}s) after STOP without EXIT"
        )


def run_worker(
    fleet_dir: str,
    worker: int,
    workers: int,
    corpus_path: str,
    cores: int,
    budget: int,
    callbacks: dict,
    idle_polls: int = 3,
    driver_mem: str = "8g",
    host_map: dict | None = None,
    orphan_timeout_s: float = ORPHAN_TIMEOUT_S,
) -> dict:
    """One fleet worker process body (invoked via ``python -m`` subprocess or
    directly for tests).  Returns summary dict."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from .crawl import FRONTIER_DDL, CrawlConfig, CrawlEngine

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(f"fleet-w{worker}")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # per-op Python call-site capture (error-message enrichment only) is
        # pure worker-driver overhead in the per-round plan assembly — same
        # toggle the jobs/ and perfbench sessions carry, ~0.4 s/round at
        # crawl shapes
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    corpus = spark.read.parquet(corpus_path)
    wd = os.path.join(fleet_dir, f"worker{worker}")
    cfg = CrawlConfig(callbacks=dict(callbacks), default_budget=budget)
    engine = CrawlEngine(
        spark, corpus, wd, cfg, shard=(worker, workers), fleet_dir=fleet_dir,
        host_map=host_map,
    )

    # seeds were pre-routed by the coordinator into <fleet>/seeds/w{worker}
    seed_path = os.path.join(fleet_dir, "seeds", f"w{worker}")
    if os.path.exists(seed_path):
        seeds_df = spark.read.parquet(seed_path)
        rows = [r.asDict() for r in seeds_df.orderBy("seed_idx").collect()]
        engine.seed(
            [
                {
                    "url": r["url"],
                    "method": r["method"],
                    "callback": r["callback"],
                    "body": r["req_body"],
                    "meta": json.loads(r["meta_json"]),
                    "priority": r["priority"],
                }
                for r in rows
            ]
        )
    else:
        engine.seed([])

    status_path = os.path.join(fleet_dir, "status", f"w{worker}.json")
    os.makedirs(os.path.dirname(status_path), exist_ok=True)
    stop_path = os.path.join(fleet_dir, "STOP")
    exit_path = os.path.join(fleet_dir, "EXIT")
    total = 0
    idle = 0

    def publish(ready: bool = False) -> None:
        tmp = status_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {
                    "worker": worker,
                    "rounds": engine.round,
                    "fetched": total,
                    "idle": idle,
                    "consumed": engine.handoff_consumed,
                    "exported": engine.handoff_exported,
                    "ready": ready,
                },
                fh,
            )
        os.replace(tmp, status_path)

    def drain() -> int:
        """Ingest + crawl to local exhaustion; returns pages fetched."""
        got = 0
        while engine.ingest_handoff():
            fetched = engine.step()
            while fetched:
                got += fetched
                fetched = engine.step()
        return got

    active = True  # a drained frontier stays drained until an ingest arrives:
    # step() == 0 means the frontier is EMPTY (politeness always yields >= 1
    # eligible per pending host), so an idle worker only polls its inbox
    # (an os.listdir) instead of burning no-op rounds that would steal cores
    # from still-busy workers
    while True:
        ingested = engine.ingest_handoff()
        n = engine.step() if (active or ingested) else 0
        active = n > 0
        total += n
        idle = idle + 1 if (n == 0 and ingested == 0) else 0
        publish()
        if n == 0 and ingested == 0:
            if os.path.exists(stop_path):
                # Two-phase exit barrier.  Phase 1 (STOP): drain any
                # last-instant drop that landed between the poll that
                # published our idle status and the coordinator's STOP, then
                # publish ready=True.  Phase 2 (EXIT): STAY ALIVE until the
                # coordinator confirms the global cut — our drain (or a
                # peer's) may itself export foreign-host children, and a
                # worker that exited early would leave those drops
                # unconsumed, silently losing pages.  Any work done here
                # resets ready and republishes counters, so the coordinator
                # cannot see a stable all-ready balanced snapshot until the
                # whole fleet is truly quiescent.
                total += drain()
                publish(ready=True)
                t_stop = time.monotonic()
                while not os.path.exists(exit_path):
                    # bounded: a dead coordinator (STOP written, EXIT never)
                    # must not strand this JVM forever
                    _orphan_check(
                        fleet_dir, time.monotonic() - t_stop, orphan_timeout_s
                    )
                    before = (engine.handoff_consumed, engine.handoff_exported)
                    got = drain()
                    total += got
                    # republish on ANY counter movement, not just fetched
                    # pages: a drop whose requests all dedup away still
                    # bumps handoff_consumed, and leaving that unpublished
                    # would hold exported != consumed forever (EXIT never
                    # written — fleet hang).  No explicit un-ready flicker
                    # needed: the changed counters break the coordinator's
                    # two-poll unchanged-snapshot requirement by themselves.
                    if got or (
                        engine.handoff_consumed,
                        engine.handoff_exported,
                    ) != before:
                        publish(ready=True)
                    time.sleep(STATUS_POLL_S)
                break
            time.sleep(STATUS_POLL_S)
    spark.stop()
    return {"worker": worker, "fetched": total, "rounds": engine.round}


def _statuses(fleet_dir: str, workers: int) -> list[dict]:
    out = []
    for w in range(workers):
        p = os.path.join(fleet_dir, "status", f"w{w}.json")
        try:
            with open(p) as fh:
                out.append(json.load(fh))
        except (OSError, json.JSONDecodeError):
            out.append(None)
    return out


def coordinate(fleet_dir: str, workers: int, idle_polls: int = 3, procs=None) -> None:
    """Poll worker statuses; STOP when the fleet looks quiescent, EXIT when
    the post-STOP cut is confirmed.

    Quiescence is a CONSISTENT CUT, not a single racy snapshot: status files
    are stale by up to one Spark round, so "all idle and exported==consumed"
    can hold momentarily while a worker is mid-round (its renamed-but-
    unpublished export offset by an already-published consumption elsewhere).
    Requiring TWO consecutive polls with *unchanged* per-worker (rounds,
    exported, consumed) counters — and the idle/balance predicate in both —
    rules that out: any in-flight round publishes a counter change between
    the polls.

    STOP alone is not a safe exit: a worker's post-STOP drain can itself
    export foreign-host children, and a peer that exited already would leave
    those drops unconsumed (silent page loss).  So workers stay alive after
    STOP, draining and republishing, until this second phase confirms the
    cut — every worker ready, exported==consumed, counters unchanged across
    two polls (any drain bumps `consumed` before its publish, so in-flight
    work always breaks the snapshot) — and writes EXIT.  If a worker process
    dies early, release the rest (EXIT) then kill them and raise."""

    def _fail(dead):
        # EXIT releases live workers from the phase-2 wait before terminate
        open(os.path.join(fleet_dir, "EXIT"), "w").close()
        for p in procs:
            if p.poll() is None:
                p.terminate()
        raise RuntimeError(
            f"fleet worker(s) {dead} exited early "
            f"(rc={[procs[i].returncode for i in dead]}); see worker*.stderr"
        )

    hb_path = os.path.join(fleet_dir, "HEARTBEAT")

    def _wait(predicate, marker: str) -> None:
        prev = None
        while True:
            # liveness beacon for the workers' post-STOP orphan guard
            with open(hb_path, "w"):
                pass
            if procs is not None:
                dead = [i for i, p in enumerate(procs) if p.poll() is not None]
                if dead:
                    _fail(dead)
            sts = _statuses(fleet_dir, workers)
            if all(s is not None for s in sts):
                balanced = sum(s["exported"] for s in sts) == sum(
                    s["consumed"] for s in sts
                )
                snap = tuple(
                    (s["rounds"], s["exported"], s["consumed"], s.get("ready"))
                    for s in sts
                )
                quiet = balanced and predicate(sts)
                if quiet and prev == snap:
                    open(os.path.join(fleet_dir, marker), "w").close()
                    return
                prev = snap if quiet else None
            else:
                prev = None
            time.sleep(STATUS_POLL_S)

    _wait(lambda sts: all(s["idle"] >= idle_polls for s in sts), "STOP")
    _wait(lambda sts: all(s.get("ready") for s in sts), "EXIT")


def route_seeds(
    spark, fleet_dir: str, seeds: list[dict], workers: int,
    host_map: dict | None = None,
) -> None:
    """Partition the ordered seed list by host shard, preserving order."""
    from pyspark.sql import functions as F

    rows = [
        (
            i,
            s["url"],
            s["url"].split("/", 3)[2],
            s.get("method", "GET"),
            s.get("callback", "list"),
            s.get("body", "") or "",
            json.dumps(s.get("meta", {})),
            int(s.get("priority", 0)),
        )
        for i, s in enumerate(seeds)
    ]
    df = spark.createDataFrame(
        rows,
        "seed_idx long, url string, host string, method string,"
        " callback string, req_body string, meta_json string, priority int",
    ).withColumn("_w", shard_of_expr(F.col("host"), workers, host_map))
    for w in range(workers):
        df.where(F.col("_w") == w).drop("_w").coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(fleet_dir, "seeds", f"w{w}"))


_WORKER_MAIN = """
import json, sys
from spiderman_spark.plans.fleet import run_worker
args = json.loads(sys.argv[1])
print("WORKERRESULT " + json.dumps(run_worker(**args)), flush=True)
"""


def run_fleet(
    spark,
    fleet_dir: str,
    corpus_path: str,
    seeds: list[dict],
    workers: int,
    cores_per_worker: int,
    budget: int,
    callbacks: dict,
    repo_root: str | None = None,
    driver_mem: str = "8g",
    host_map: dict | None = None,
    pin_cpus: bool = False,
) -> dict:
    """Coordinator: route seeds, spawn W worker processes (each its own
    8-core JVM — the executor-emulation unit), wait for quiescence.

    A reused ``fleet_dir`` is reset first: stale STOP/EXIT files would
    terminate the new fleet instantly, stale status files satisfy the
    quiescence predicate for workers that no longer exist, and stale handoff
    drops would be re-ingested as new work."""
    os.makedirs(fleet_dir, exist_ok=True)
    import shutil

    for marker in ("STOP", "EXIT", "HEARTBEAT"):
        path = os.path.join(fleet_dir, marker)
        if os.path.exists(path):
            os.remove(path)
    for sub in ("status", "handoff"):
        shutil.rmtree(os.path.join(fleet_dir, sub), ignore_errors=True)
    route_seeds(spark, fleet_dir, seeds, workers, host_map)
    root = repo_root or os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    t0 = time.perf_counter()
    procs = []
    for w in range(workers):
        args = json.dumps(
            {
                "fleet_dir": fleet_dir,
                "worker": w,
                "workers": workers,
                "corpus_path": corpus_path,
                "cores": cores_per_worker,
                "budget": budget,
                "callbacks": callbacks,
                "driver_mem": driver_mem,
                "host_map": host_map,
            }
        )
        errlog = open(os.path.join(fleet_dir, f"worker{w}.stderr"), "w")
        # optional: pin each worker JVM to a disjoint core range — emulates a
        # cluster's per-executor CPU ownership, removing host-scheduler
        # interference between co-resident JVMs
        pin = (
            ["taskset", "-c", f"{w * cores_per_worker}-{(w + 1) * cores_per_worker - 1}"]
            if pin_cpus
            else []
        )
        procs.append(
            subprocess.Popen(
                pin + [sys.executable, "-c", f"import sys; sys.path.insert(0, {root!r})\n" + _WORKER_MAIN, args],
                stdout=subprocess.PIPE,
                stderr=errlog,
                text=True,
            )
        )
    coordinate(fleet_dir, workers, procs=procs)
    results = []
    for p in procs:
        out, _ = p.communicate()
        for line in out.splitlines():
            if line.startswith("WORKERRESULT "):
                results.append(json.loads(line[len("WORKERRESULT "):]))
    wall = time.perf_counter() - t0
    fetched = sum(r["fetched"] for r in results)
    return {
        "workers": workers,
        "cores_per_worker": cores_per_worker,
        "fetched": fetched,
        "sec": wall,
        "pages_per_sec": fetched / wall if wall else 0.0,
        "per_worker": results,
    }
