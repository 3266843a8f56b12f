"""CrawlEngine — the scrapy-redis crawl loop as deterministic DataFrame rounds.

Reference lifecycle (SURVEY.md §3.1): seeds → Redis FIFO frontier → workers
pop/fetch/parse/push until the queue idles out.  Here each *round* is one
micro-batch over the ``frontier`` table:

    pending ──politeness──▶ eligible ──fetch join──▶ ok / retry / failed
       ▲                                   │
       │                                parse (mapInPandas)
       │                                   │
    deferred ∪ retries ∪ admitted ◀──dedup gate──── child requests
                                           └──▶ items_raw, crawl_order,
                                                url_seen, metrics (appends)

Determinism contract (SURVEY.md §4.1): fetch order is (round, seq); children
get seq in (parent_seq, child_idx) order; retries keep their original seq;
politeness picks the first B pending per host by seq.  All of it matches the
single-threaded simulator bit-for-bit — that is the correctness gate
(BASELINE.json: "crawl ordering and URL-seen set must match").

Scale posture (the parts that matter at a 10^10-row frontier):
- fetch = ``corpus ⋈ broadcast(eligible)``: the per-round batch is small by
  construction (≤ hosts × budget), so the big corpus is NEVER shuffled; one
  scan per round with the join key pushed into it.
- politeness = two-phase salted top-B (operators/politeness.py) — no single
  reducer owns the mega-host.
- dedup = left_anti against the url_seen table on a fixed-width key; the
  optional Bloom pre-filter (operators/bloom.py) cuts the anti-join's probe
  side before it shuffles.
- per-round state lives in parquet snapshots (TableIO) — lineage is cut every
  round, crashes roll back to the last checkpoint, and resume is a manifest
  read (north rule: resumable from snapshot checkpoints with lineage+metrics).

The round's skeleton (plans/rounds.py, shared with ``ImageDownloader``):
ONE small head action sizes and ranks the batch with no single-partition
Exchange, children take sparse seqs from their parent's rank, and the five
state writes plus the Bloom delta build run as one concurrent wave — the
fixed driver barrier is ~1 small action + max(write), not count + 5
sequential writes.

Python cost: a round runs exactly ONE Python stage — ``parse_pages``, which
also computes each child's ``fp``/``canon`` — with at most one task per core.
At crawl-round sizes that stage's cost is per TASK, not per row: on a 4-core
VM (PySpark 4.1, CPython 3.11) each Python task spends ~0.25 s of a core
before it reads a row (94 % of it in the per-task
``importlib.invalidate_caches()``, which makes zipimport re-read
pyspark.zip's directory once per zipimporter on the worker path), while
parsing costs ~58 µs a page and fp+canon ~6 µs a child.  So a second
Python stage, or a second wave of tasks, costs more than all of a round's
Python work.  The parse input is hash-repartitioned to min(cores, eligible
pages) tasks anyway: parse cost is per child, not per page (a hub page with
1000 out-links costs 50x a leaf), and the fetch-join output clusters hubs by
scan order — left alone, a 5M-page round showed a 2-straggler-task parse
tail that serialized ~45 µs/page of an otherwise parallel stage.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..corpusgen import RETRY_HTTP_CODES
from ..operators import ranks
from ..operators.bloom import (
    BloomConfig,
    BloomSet,
    build_bloom,
    maybe_seen_from_broadcast,
    publish_bloom,
)
from ..operators.parse import items_of, parse_pages, requests_of
from ..spiderspec import ZHIFANG, SpiderSpec
from .rounds import FrontierRounds

FRONTIER_DDL = (
    "seq long, url string, host string, method string, callback string,"
    " req_body string, meta_json string, attempt int, priority int"
)
URL_SEEN_DDL = "fp string, url_hash long, url string"
CRAWL_ORDER_DDL = (
    "rank long, round int, url string, host string, attempt int,"
    " ua string, cookie string"
)
FAILED_DDL = "url string, reason string, attempt int, round int"
# item rows of the parse union, without the request-only fp/canon columns
ITEMS_RAW_DDL = (
    "out_kind string, tablename string, item_json string, url string,"
    " method string, callback string, body string, meta_json string,"
    " parent_seq long, child_idx int, parent_url string"
)
ITEMS_RAW_COLS = [c.split()[0] for c in ITEMS_RAW_DDL.split(",")]

# fetch-join strategy: broadcast the round batch while it has at most this
# many rows (a 10^6-row broadcast is serial driver work and executor memory;
# past that the corpus-side shuffle parallelizes better)
BROADCAST_MAX_ROWS = 300_000
# children get SPARSE seqs: seq = next_seq + (parent_rank-1)*stride +
# child_idx.  Order-isomorphic to the dense (parent_seq, child_idx)
# numbering — FIFO/politeness/dedup semantics are identical (only seq
# ORDER is ever observed) — but needs NO second offsets action per round.
# Must exceed the max children one page can emit.
CHILD_STRIDE = 1 << 20
# size-tiered url_seen compaction threshold: only manifest entries SMALLER
# than this are bin-packed; parts that grow past it become base and are
# only re-read by the occasional smallest-first tier merge
# (TableIO.compact_small) — compaction I/O stays proportional to appended
# bytes amortized, not to the url_seen corpus (O(TB) at 10^10)
COMPACT_THRESHOLD_BYTES = 64 << 20


@dataclass
class CrawlConfig:
    # zhifang demo defaults: both page callbacks skip the dupefilter
    # (`SP/spiders/zhifang.py:55-61`, True = dont_filter)
    callbacks: dict = field(default_factory=lambda: {"list": True, "detail": True})
    default_budget: int = 8  # per-host fetches per round (T3)
    retry_times: int = 3  # SP/settings.py:122
    minsize: int = 64  # SizeRetryMiddleWare threshold
    salt_buckets: int = 16
    bizdate: str = "20240101"  # injected clock (SURVEY.md §7.3.2)
    ctime: str = "2024-01-01 00:00:00"
    spider: str = "zhifang"
    max_rounds: int = 100000
    # optional Bloom pre-filter (SURVEY.md D2): shrinks the url_seen anti-join
    # probe side; the exact anti-join stays the source of truth, so crawl
    # results are identical with or without it (asserted in tests).
    bloom: BloomConfig | None = None
    # compact the url_seen table (the only state table *read* every round)
    # every N rounds so its file count stays bounded (O(1) in rounds AND in
    # table size — compact_small's max_parts tier merge)
    compact_every: int = 8
    # U3 middleware (`SP/middlewares/SPMiddleWare.py:40-133`; headers/cookies
    # Redis keys `SP_JOBS/job.py:42-45`): UA/cookie rotation + fixed headers
    # stamped as columns on the eligible batch before the fetch join.
    # Deterministic rotation (F13) replaces random.choice so reruns and the
    # simulator reproduce the same pick; the tiny config lists become plan
    # literals — the Spark analogue of broadcasting the headers/cookies maps.
    user_agents: list | None = None
    cookies: list | None = None
    default_headers: dict | None = None


class CrawlEngine(FrontierRounds):
    # per-host fetch metrics are DERIVED from crawl_order (same rows,
    # grouped) — one less write per round, one less table to keep consistent
    STATE_TABLES = ("frontier", "url_seen", "crawl_order", "items_raw", "failed")
    # _pending_est bounds the frontier's size (it picks one politeness
    # phase and sizes the frontier write); _seen_appended gates compaction
    STATE_ATTRS = ("round", "next_seq", "rank_base", "_pending_est", "_seen_appended")
    CHECKPOINT = "checkpoint.json"
    ORDER_TABLE = "crawl_order"
    ORDER_DDL = CRAWL_ORDER_DDL

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        workdir: str,
        config: CrawlConfig | None = None,
        budgets: DataFrame | None = None,
        spec: SpiderSpec | None = None,
        robots_rules: DataFrame | None = None,
        shard: tuple[int, int] | None = None,
        fleet_dir: str | None = None,
        host_map: dict | None = None,
    ):
        super().__init__(spark, workdir, config or CrawlConfig(), budgets)
        self.spec = spec or ZHIFANG
        self.corpus = corpus.select("url", "http_status", "body", "body_size")
        # T4 robots opt-in (reference default OFF, `SP/settings.py:118-119`):
        # small (host, disallow_prefix) rules table, broadcast into child
        # admission; blocked children are recorded as failed('robots')
        self.robots_rules = robots_rules
        self.next_seq = 0
        self.bloom = BloomSet(self.cfg.bloom) if self.cfg.bloom else None
        # one live broadcast of the bitmaps; republished (and the old handle
        # destroyed) only on merge — constant executor memory over any number
        # of rounds instead of one bitmap copy leaked per round
        self._bloom_bc = None
        self.bloom_broadcasts_dropped = 0
        self._pending_est = 0  # running upper bound on frontier size
        # fleet mode (plans/fleet.py): this engine owns hosts with
        # pmod(xxhash64(host), W) == w; children on foreign hosts are exported
        # to the owning worker's handoff inbox instead of admitted locally
        self.shard = shard
        self.fleet_dir = fleet_dir
        self.host_map = host_map  # optional explicit host->worker assignment
        self.handoff_exported = 0  # handoff drops written (for quiescence)
        self.handoff_consumed = 0  # handoff drops ingested
        self._seen_appended = 0  # url_seen rows since last compaction
        self._ingested: set[str] = set()

    def _drop_bloom_broadcast(self) -> None:
        # unpersist, NOT destroy: DataFrames whose lineage embeds the probe
        # UDF (gated/new_seen) may be recomputed after the merge (executor
        # loss, cache eviction on a real cluster); unpersist frees executor
        # copies now but lets the driver re-broadcast on demand, while
        # destroy() would fail such recomputation permanently
        if self._bloom_bc is not None:
            self._bloom_bc.unpersist()
            self.bloom_broadcasts_dropped += 1
            self._bloom_bc = None

    def _merge_bloom(self, delta: BloomSet) -> None:
        """Merge a delta once every job that probed the live broadcast is
        done; the merged bitmap republishes lazily.  An empty delta keeps
        the broadcast."""
        if delta.bitmaps.any():
            self.bloom.merge(delta)
            self._drop_bloom_broadcast()

    # ------------------------------------------------------------ lifecycle

    def seed(self, seeds: list[dict], preserve_state: bool = False) -> None:
        """Enqueue seeds in order — the analogue of key deletion + reqs_push
        (`SP_JOBS/job.py:38,75-77`).

        ``preserve_state=False`` (fresh crawl): reset every state table.
        ``preserve_state=True`` (patch crawl): replace ONLY the frontier;
        items_raw / crawl_order / failed keep the previously crawled work the
        patch is meant to complete, and url_seen is kept so the dedup gate
        still holds across the patch (the reference patch job pushes into the
        live Redis queue without deleting the sink DB,
        `SP_JOBS/zhifang_job_patch.py:62-76`)."""
        base = self.next_seq if preserve_state else 0
        rows = [
            (
                base + i,
                s["url"],
                s["url"].split("/", 3)[2],
                s.get("method", "GET"),
                s.get("callback", "list"),
                s.get("body", "") or "",
                json.dumps(s.get("meta", {})),
                0,
                int(s.get("priority", 0)),
            )
            for i, s in enumerate(seeds)
        ]
        self._reset_frontier(
            self.spark.createDataFrame(rows, FRONTIER_DDL), len(rows), preserve_state
        )

    def seed_from_df(
        self,
        seeds: DataFrame,
        order_by: list[str],
        preserve_state: bool = False,
    ) -> int:
        """DataFrame-native seeding — the scale path for patch crawls.

        The patch anti-joins' output is proportional to *missing work*, which
        at a 100 TB store can be millions of rows; routing it through the
        driver as a Python list (``seed()``) caps patch size at driver memory.
        Here seq is assigned distributed, via the two-phase range rank over
        the caller-supplied deterministic ``order_by`` total order, and the
        frontier table is written directly — no ``collect()`` anywhere.

        ``seeds`` needs ``url`` plus optionally ``method``/``callback``/
        ``req_body``/``meta_json`` (defaulted) and its ``order_by`` columns.
        Returns the number of seeds enqueued."""
        base = self.next_seq if preserve_state else 0
        defaults = {
            "method": F.lit("GET"),
            "callback": F.lit("list"),
            "req_body": F.lit(""),
            "meta_json": F.lit("{}"),
            "priority": F.lit(0),
        }
        for c, d in defaults.items():
            if c not in seeds.columns:
                seeds = seeds.withColumn(c, d)
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        spart = ranks.range_prepare(seeds, order_by, nparts).persist()
        offs, n = ranks.collect_offsets(spart)
        rows = (
            ranks.with_rank(spart, order_by, "_rk", offs, base=base)
            .select(
                (F.col("_rk") - 1).alias("seq"),
                "url",
                F.substring_index(
                    F.substring_index("url", "://", -1), "/", 1
                ).alias("host"),
                "method", "callback", "req_body", "meta_json",
                F.lit(0).alias("attempt"), F.col("priority"),
            )
        )
        self._reset_frontier(rows, n, preserve_state)
        spart.unpersist()
        return n

    def _reset_frontier(self, rows: DataFrame, n: int, preserve_state: bool) -> None:
        """Write the ``n`` seed ``rows`` as the whole frontier, then
        checkpoint.  A fresh crawl first empties every state table and
        restarts the counters and the Bloom filter; a patch crawl keeps them
        and moves ``next_seq`` past the seeds."""
        if not preserve_state:
            for t in self.STATE_TABLES:
                self.catalog.table(t).replace_empty()
        self.catalog.table("frontier").replace(self._sized(rows, n))
        if preserve_state:
            self.next_seq += n
            # kept url_seen may carry un-compacted appends from before
            self._seen_appended = max(1, self._seen_appended)
        else:
            self.round, self.next_seq, self.rank_base = 0, n, 0
            self._seen_appended = 0
            if self.bloom is not None:
                self._drop_bloom_broadcast()
                self.bloom = BloomSet(self.cfg.bloom)
        self._pending_est = n
        self._checkpoint()

    def resume(self) -> bool:
        """Reopen the last committed round (``FrontierRounds.resume``).  The
        Bloom bitmap is derived state: rebuilt from the url_seen snapshot."""
        if not super().resume():
            return False
        if self.cfg.bloom is not None:
            self._drop_bloom_broadcast()
            self.bloom = build_bloom(self.url_seen(), "fp", self.cfg.bloom)
        return True

    # ------------------------------------------------------------ one round

    def step(self) -> int:
        """Run one frontier round; returns number of pages fetched (0 ⇒ done).

        Driver barriers: the shared head's ONE small action
        (``FrontierRounds._head``: politeness + histogram offsets, which
        also counts the round), then the commit wave, where the five state
        writes and the Bloom delta build run concurrently (wall ≈ slowest
        write, not the sum), then compaction every ``compact_every`` rounds
        and the checkpoint."""
        _t0 = time.perf_counter()
        cfg = self.cfg
        head = self._head(
            self._read("frontier", FRONTIER_DDL), self._pending_est, self.next_seq
        )
        _t_head = time.perf_counter()
        if head is None:
            return 0
        ranked, deferred, n_eligible, caches = head
        # persist the ranked batch: ~5 downstream jobs consume it (fetch
        # join, crawl_order write, missing anti-join, pmap broadcast) and
        # would otherwise each re-run the rank window + offsets join
        ranked = self._with_middleware(ranked).persist()

        # fetch = join the small per-round batch INTO the big corpus scan
        use_bc = n_eligible <= BROADCAST_MAX_ROWS
        batch = F.broadcast(ranked) if use_bc else ranked
        found = self.corpus.join(batch, "url", "inner").persist()
        missing = ranked.join(found.select("url"), "url", "left_anti")

        ok = found.where(
            (F.col("http_status") == 200) & (F.col("body_size") >= cfg.minsize)
        )
        not_ok = found.where(
            (F.col("http_status") != 200) | (F.col("body_size") < cfg.minsize)
        )
        retry_pred = F.col("http_status").isin(list(RETRY_HTTP_CODES)) | (
            F.col("body_size") < cfg.minsize
        )
        retries = (
            not_ok.where(retry_pred & (F.col("attempt") < cfg.retry_times))
            .select(
                "seq", "url", "host", "method", "callback", "req_body",
                "meta_json", (F.col("attempt") + 1).alias("attempt"), "priority",
            )
        )
        failed = (
            not_ok.where(retry_pred & (F.col("attempt") >= cfg.retry_times))
            .select("url", F.lit("exhausted").alias("reason"), "attempt")
            .unionByName(
                not_ok.where(~retry_pred).select(
                    "url", F.lit("failed").alias("reason"), "attempt"
                )
            )
            .unionByName(
                missing.select("url", F.lit("missing").alias("reason"), "attempt")
            )
            .withColumn("round", F.lit(self.round))
        )

        pages = ok.where(F.col("callback").isin(list(self.spec.page_callbacks)))
        # spread hub pages uniformly before the Python parse wave (see the
        # module docstring): one task per core, capped by the round's own
        # size so a 3-page tail round doesn't schedule near-empty Python tasks
        parse_tasks = min(
            self.spark.sparkContext.defaultParallelism, max(1, n_eligible)
        )
        pages = pages.repartition(parse_tasks, F.xxhash64("url"))
        # the round's only Python stage: parse AND the children's fp/canon
        parsed = parse_pages(pages, self.spec.parse).persist()
        caches += [ranked, found, parsed]

        # ---- child admission: dedup gate (D1) + deterministic seq assignment
        # every child carries its parent's round rank (_prank, for admission
        # order + sparse seq blocks) and priority (children INHERIT parent
        # priority — this engine's chosen extension semantics, simulator-
        # parity-tested; scrapy itself defaults callback Requests to
        # priority=0 unless DEPTH_PRIORITY adjusts them)
        pmap = F.broadcast(
            ranked.select(
                F.col("seq").alias("parent_seq"),
                F.col("rank").alias("_prank"),
                F.coalesce(F.col("priority"), F.lit(0)).alias("priority"),
            )
        )
        reqs = (
            requests_of(parsed)
            .withColumn(
                "host",
                F.substring_index(F.substring_index("url", "://", -1), "/", 1),
            )
            .join(pmap, "parent_seq")
        )
        if self.robots_rules is not None:
            rules = F.broadcast(
                self.robots_rules.groupBy("host").agg(
                    F.collect_list("disallow_prefix").alias("_dis")
                )
            )
            path = F.regexp_replace(
                F.col("url"), "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*", ""
            )
            flagged = reqs.join(rules, "host", "left").withColumn(
                "_blocked",
                F.coalesce(
                    F.exists("_dis", lambda d: path.startswith(d)), F.lit(False)
                ),
            )
            failed = failed.unionByName(
                flagged.where("_blocked").select(
                    "url",
                    F.lit("robots").alias("reason"),
                    F.lit(0).alias("attempt"),
                    F.lit(self.round).alias("round"),
                )
            )
            reqs = flagged.where("NOT _blocked").drop("_blocked", "_dis")
        if self.shard is not None:
            reqs = self._split_foreign(reqs, caches)
        # first-wins in ADMISSION order = parent fetch order (_prank,
        # child_idx) — equals (parent_seq, child_idx) under uniform
        # priorities, and matches the simulator when they differ
        nofilter, gated = self._dedup_gate(reqs, ["_prank", "child_idx"])
        caches.append(gated)

        # observed row count rides the url_seen write (no extra action) and
        # gates the periodic compaction: nothing appended → nothing to compact
        obs_seen = Observation()
        new_seen = gated.select(
            "fp", F.xxhash64("canon").alias("url_hash"), F.col("url")
        ).observe(obs_seen, F.count(F.lit(1)).alias("n"))

        admitted = nofilter.unionByName(gated)
        # sparse seq assignment: parent's round-rank (attached via pmap)
        # spreads children into disjoint, ordered stride blocks — no global
        # dense rank, hence no second driver action in the round
        obs_children = Observation()
        children = (
            admitted.select(
                (
                    F.lit(self.next_seq)
                    + (F.col("_prank") - F.lit(self.rank_base) - 1) * F.lit(CHILD_STRIDE)
                    + F.col("child_idx")
                ).alias("seq"),
                "url", "host", "method", "callback",
                F.col("body").alias("req_body"), "meta_json",
                F.lit(0).alias("attempt"), "priority",
            )
            .observe(obs_children, F.count(F.lit(1)).alias("n"))
        )

        new_pending = deferred.unionByName(retries).unionByName(children)

        # ---- commit the round: the five state writes in one wave, then
        # checkpoint
        order_rows = ranked.select(
            "rank", F.lit(self.round).alias("round"), "url", "host", "attempt",
            "ua", "cookie",
        )
        items = parsed.where("out_kind = 'item'").select(*ITEMS_RAW_COLS)

        n_items_est = n_eligible * 8  # pages emit a handful of items each
        seen_tb = self.catalog.table("url_seen")
        # drop_empty: an idle/cleans round's empty append must not grow the
        # reader's file list O(rounds) between compactions (footer-only check)
        writes = [
            lambda: self.catalog.table("crawl_order").append(self._sized(order_rows, n_eligible)),
            lambda: self.catalog.table("failed").append(
                self._sized(failed, n_eligible), drop_empty=True
            ),
            lambda: self.catalog.table("items_raw").append(
                self._sized(items, n_items_est), drop_empty=True
            ),
            lambda: self.catalog.table("frontier").replace(self._sized(new_pending, self._pending_est)),
            lambda: seen_tb.append(self._sized(new_seen, n_eligible * 8), drop_empty=True),
        ]
        if self.bloom is not None:
            # the delta build is its own job over the gated cache — run it
            # INSIDE the wave (overlapped with the writes) instead of as a
            # serial post-wave action; the MERGE still happens after the
            # wave, once every job that probed the live broadcast is done
            writes.append(
                lambda: build_bloom(gated.select("fp"), "fp", self.cfg.bloom)
            )
        _t_plan = time.perf_counter()
        results = self._wave(writes)
        _t_wave = time.perf_counter()
        n_children = int(obs_children.get["n"])  # filled by the frontier write
        self._seen_appended += int(obs_seen.get["n"])  # by the url_seen write
        self._pending_est = (
            max(0, self._pending_est - n_eligible) + n_eligible + n_children
        )
        if (
            cfg.compact_every
            and self.round % cfg.compact_every == 0
            and self._seen_appended
        ):
            # keep the per-round anti-join's scan list O(1) in round count —
            # skipped entirely when nothing was appended since the last
            # compaction (idle tail rounds).  Size-tiered: only the small
            # per-round append parts are bin-packed; base parts above the
            # threshold carry over verbatim, so compaction I/O is
            # proportional to appended bytes, never to the table (round-4
            # verdict #1 — the last O(corpus)-recurring cost in the loop)
            compaction = seen_tb.compact_small(
                COMPACT_THRESHOLD_BYTES, ddl=URL_SEEN_DDL
            )
            self._seen_appended = 0
        else:
            compaction = None
        if self.bloom is not None:
            # every job that probed the live broadcast has completed by
            # here: the wave is eager
            self._merge_bloom(results[-1])

        self.next_seq += n_eligible * CHILD_STRIDE
        self.rank_base += n_eligible
        lineage = {
            "round": self.round,
            "n_eligible": n_eligible,
            "n_children": n_children,
        }
        if compaction is not None:
            # per-round lineage records what compaction actually touched —
            # the proportional-I/O invariant is observable, not assumed
            lineage["url_seen_compaction"] = compaction
        self._checkpoint(lineage=lineage)
        for df in caches:
            df.unpersist()
        # per-round phase walls (always cheap to record; the fixed-cost-b
        # work reads these instead of guessing): head = politeness+offsets
        # action, plan = lazy plan assembly, wave = the concurrent
        # write/bloom block, post = compaction+bloom-merge+checkpoint
        self.round_profile = {
            "round": self.round,
            "n_eligible": n_eligible,
            "head_s": round(_t_head - _t0, 3),
            "plan_s": round(_t_plan - _t_head, 3),
            "wave_s": round(_t_wave - _t_plan, 3),
            "post_s": round(time.perf_counter() - _t_wave, 3),
            "parse_tasks": parse_tasks,
        }
        return n_eligible

    def _dedup_gate(
        self, reqs: DataFrame, order: list[str]
    ) -> tuple[DataFrame, DataFrame]:
        """D1: split child requests into ``(nofilter, gated)``.  Callbacks
        configured dont_filter pass through; the rest keep the first row per
        ``fp`` in ``order`` and drop every ``fp`` already in url_seen.  The
        optional Bloom pre-filter sends only "maybe seen" rows (true dups +
        the tiny FP fraction) through the exact anti-join, which stays the
        source of truth.  ``gated`` is persisted (the caller releases it):
        it feeds both the url_seen append and the admitted children."""
        nofilter_cbs = [cb for cb, dont in self.cfg.callbacks.items() if dont]
        nofilter = reqs.where(F.col("callback").isin(nofilter_cbs))
        gated = reqs.where(~F.col("callback").isin(nofilter_cbs))
        w_fp = Window.partitionBy("fp").orderBy(*order)
        gated = (
            gated.withColumn("_rn", F.row_number().over(w_fp))
            .where("_rn = 1")
            .drop("_rn")
        )
        seen = self.url_seen().select("fp")
        if self.bloom is not None:
            # one live broadcast of the bitmaps, published on first use
            if self._bloom_bc is None:
                self._bloom_bc = publish_bloom(self.spark, self.bloom)
            probe = maybe_seen_from_broadcast(self._bloom_bc)
            flagged = gated.withColumn("_maybe", probe("fp"))
            fresh = flagged.where(~F.col("_maybe")).drop("_maybe")
            maybe = flagged.where(F.col("_maybe")).drop("_maybe")
            gated = fresh.unionByName(maybe.join(seen, "fp", "left_anti"))
        else:
            gated = gated.join(seen, "fp", "left_anti")
        return nofilter, gated.persist()

    # ------------------------------------------------------------ middleware

    def _with_middleware(self, batch: DataFrame) -> DataFrame:
        """U3: stamp per-request ``ua``/``cookie``/``headers_json`` columns
        onto the eligible batch before the fetch join (the reference mutates
        each Request in the downloader middleware chain,
        `SP/middlewares/SPMiddleWare.py:40-133`, reading headers/cookies the
        job pushed to Redis, `SP_JOBS/job.py:42-45`).  The fetch stage and
        crawl_order lineage see the stamped values; rotation is the
        deterministic F13 pick, mirrored driver-side by the simulator."""
        from ..functions.scalars import pick_rotating

        cfg = self.cfg
        ua = (
            pick_rotating(list(cfg.user_agents), F.col("url"))
            if cfg.user_agents
            else F.lit("")
        )
        cookie = (
            pick_rotating(list(cfg.cookies), F.col("url"))
            if cfg.cookies
            else F.lit("")
        )
        headers = (
            F.lit(json.dumps(cfg.default_headers, sort_keys=True))
            if cfg.default_headers
            else F.lit("")
        )
        return (
            batch.withColumn("ua", ua)
            .withColumn("cookie", cookie)
            .withColumn("headers_json", headers)
        )

    # ------------------------------------------------------------ fleet

    def _split_foreign(self, reqs: DataFrame, caches: list) -> DataFrame:
        """Export children owned by other workers to their handoff inboxes
        (atomic dir rename per target); return only own-host children.  The
        persisted split is appended to the round's ``caches``."""
        from .fleet import shard_of_expr

        w, W = self.shard
        sh = shard_of_expr(F.col("host"), W, self.host_map)
        tagged = reqs.withColumn("_w", sh).persist()
        caches.append(tagged)
        foreign = tagged.where(F.col("_w") != w)
        stage = os.path.join(self.fleet_dir, "handoff", "stage", uuid.uuid4().hex)
        (
            foreign.select(
                "url", "host", "method", "callback", "body", "meta_json",
                "parent_seq", "child_idx", "priority", "fp", "canon",
                F.col("_prank").alias("parent_rank"),
                F.lit(w).alias("from_worker"), "_w",
            )
            .write.partitionBy("_w")
            .mode("overwrite")
            .parquet(stage)
        )
        for d in os.listdir(stage):
            if not d.startswith("_w="):
                continue
            v = int(d.split("=", 1)[1])
            dest_dir = os.path.join(self.fleet_dir, "handoff", f"to{v}")
            os.makedirs(dest_dir, exist_ok=True)
            os.rename(
                os.path.join(stage, d),
                os.path.join(dest_dir, os.path.basename(stage)),
            )
            self.handoff_exported += 1
        return tagged.where(F.col("_w") == w).drop("_w")

    def ingest_handoff(self) -> int:
        """Admit requests other workers exported to this worker's inbox:
        same dedup gate + sparse-seq admission as local children.  Returns
        the number of handoff drops consumed (0 = inbox empty)."""
        if self.shard is None or self.fleet_dir is None:
            return 0
        w, _ = self.shard
        inbox = os.path.join(self.fleet_dir, "handoff", f"to{w}")
        if not os.path.isdir(inbox):
            return 0
        fresh = sorted(set(os.listdir(inbox)) - self._ingested)
        if not fresh:
            return 0
        # handoff rows carry the exporter's parse-stage fp/canon
        reqs = self.spark.read.parquet(*[os.path.join(inbox, f) for f in fresh])
        # admission order mirrors each EXPORTER's fetch order (parent_rank,
        # child_idx), totally ordered across exporters by (from_worker,
        # parent_seq) — per-worker ranks can collide, so the worker id is
        # the true cross-exporter tiebreak.  NOTE: parent_rank order equals
        # parent_seq order only within one exporter round; a retried parent
        # fetches at a later global rank than its seq suggests.  Cross-worker
        # duplicate resolution remains arrival-order dependent across
        # separate ingests, exactly like racing RPUSHes from sibling scrapy
        # processes upstream.
        ingest_order = ["parent_rank", "child_idx", "from_worker", "parent_seq"]
        nofilter, gated = self._dedup_gate(reqs, ingest_order)
        admitted = nofilter.unionByName(gated)
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        apart = ranks.range_prepare(admitted, ingest_order, nparts).persist()
        offs, n_new = ranks.collect_offsets(apart)
        if n_new:
            rows = ranks.with_rank(
                apart, ingest_order, "_adm", offs
            ).select(
                (F.lit(self.next_seq) + F.col("_adm") - 1).alias("seq"),
                "url", "host", "method", "callback",
                F.col("body").alias("req_body"), "meta_json",
                F.lit(0).alias("attempt"),
                F.coalesce(F.col("priority"), F.lit(0)).alias("priority"),
            )
            self.catalog.table("frontier").append(self._sized(rows, n_new))
            new_seen = gated.select(
                "fp", F.xxhash64("canon").alias("url_hash"), F.col("url")
            )
            self.catalog.table("url_seen").append(self._sized(new_seen, n_new))
            self._seen_appended += n_new
            if self.bloom is not None:
                self._merge_bloom(build_bloom(new_seen, "fp", self.cfg.bloom))
            self.next_seq += n_new
            self._pending_est += n_new
        apart.unpersist()
        gated.unpersist()
        self._ingested.update(fresh)
        self.handoff_consumed += len(fresh)
        return len(fresh)

    # ------------------------------------------------------------ outputs

    def url_seen(self) -> DataFrame:
        return self._read("url_seen", URL_SEEN_DDL)

    def failed(self) -> DataFrame:
        return self._read("failed", FAILED_DDL)

    def items(self, tablename: str) -> DataFrame:
        """Typed item table with the reference's audit columns
        (P1/D4: keyid, bizdate, ctime, spider — `pipelines_rdbm.py:43-56,85-87`);
        keyid is a deterministic hash instead of uuid1 (SURVEY.md §7.3.2)."""
        raw = self._read("items_raw", ITEMS_RAW_DDL)
        cfg = self.cfg
        typed = items_of(raw, tablename, self.spec.item_tables[tablename])
        return (
            typed.withColumn(
                "keyid",
                F.concat(
                    F.lit(cfg.bizdate),
                    F.lit("_"),
                    F.md5(F.concat_ws("|", F.lit(tablename), "parent_url", "parent_seq", "item_json")),
                ),
            )
            .withColumn("bizdate", F.lit(cfg.bizdate))
            .withColumn("ctime", F.lit(cfg.ctime))
            .withColumn("spider", F.lit(cfg.spider))
            .drop("parent_seq", "parent_url", "item_json")
        )
