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

Global rank assignment and child seq assignment use the two-phase
range-partitioned rank (operators/ranks.py) — no single-partition Exchange in
the round, so a 10^6–10^8-row round (the north rule's frontier scale) never
funnels through one task.  The offset-collect jobs double as the round's row
counts, and the five per-round state writes run concurrently, keeping the
fixed driver barrier to ~2 small actions + max(write) instead of
count + 5 sequential writes.

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
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..corpusgen import RETRY_HTTP_CODES
from ..operators import politeness, ranks
from ..operators.bloom import (
    BloomConfig,
    BloomSet,
    build_bloom,
    maybe_seen_from_broadcast,
    publish_bloom,
)
from ..operators.parse import items_of, parse_pages, requests_of
from ..operators.politeness import SALT_MIN_ROWS
from ..spiderspec import ZHIFANG, SpiderSpec
from ..tableio import Catalog

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

# per-host fetch metrics are DERIVED from crawl_order (same rows, grouped) —
# one less write per round and one less table to keep consistent
STATE_TABLES = ("frontier", "url_seen", "crawl_order", "items_raw", "failed")

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
# rows per written parquet file for per-round state appends; rounds are
# budget-bounded so appends are small — without this every tiny append
# would fan out into shuffle.partitions-many files
ROWS_PER_FILE = 200_000
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
    # histogram-rank skew fallback: if one (priority, seq-bucket) group of
    # the fused offsets pass exceeds this many rows (a degenerate seq
    # distribution, e.g. one parent emitting ~10^6 children into one stride
    # block), pay the extra range-partitioning job instead of handing one
    # window task the whole round
    hist_max_group: int = 131072
    # U3 middleware (`SP/middlewares/SPMiddleWare.py:40-133`; headers/cookies
    # Redis keys `SP_JOBS/job.py:42-45`): UA/cookie rotation + fixed headers
    # stamped as columns on the eligible batch before the fetch join.
    # Deterministic rotation (F13) replaces random.choice so reruns and the
    # simulator reproduce the same pick; the tiny config lists become plan
    # literals — the Spark analogue of broadcasting the headers/cookies maps.
    user_agents: list | None = None
    cookies: list | None = None
    default_headers: dict | None = None


class CrawlEngine:
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
        self.spark = spark
        self.spec = spec or ZHIFANG
        self.cfg = config or CrawlConfig()
        self.corpus = corpus.select("url", "http_status", "body", "body_size")
        self.catalog = Catalog(spark, workdir)
        self.budgets = budgets
        # T4 robots opt-in (reference default OFF, `SP/settings.py:118-119`):
        # small (host, disallow_prefix) rules table, broadcast into child
        # admission; blocked children are recorded as failed('robots')
        self.robots_rules = robots_rules
        self.round = 0
        self.next_seq = 0
        self.rank_base = 0
        self.bloom = BloomSet(self.cfg.bloom) if self.cfg.bloom else None
        # one live broadcast of the bitmaps; republished (and the old handle
        # destroyed) only on merge — constant executor memory over any number
        # of rounds instead of one bitmap copy leaked per round
        self._bloom_bc = None
        self.bloom_broadcasts_dropped = 0
        self._pending_est = 0  # running upper bound on frontier size
        self._ckpt_path = os.path.join(workdir, "checkpoint.json")
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
        self._round_caches: list = []  # per-round persisted frames to release

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

    def _bloom_probe(self):
        """Current-round membership probe column fn, reusing the live
        broadcast (published lazily on first use)."""
        if self._bloom_bc is None:
            self._bloom_bc = publish_bloom(self.spark, self.bloom)
        return maybe_seen_from_broadcast(self._bloom_bc)

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
        if not preserve_state:
            for t in STATE_TABLES:
                self.catalog.table(t).replace_empty()
        self.catalog.table("frontier").replace(
            self.spark.createDataFrame(rows, FRONTIER_DDL)
        )
        if preserve_state:
            self.next_seq += len(rows)
            self._pending_est = len(rows)
            # kept url_seen may carry un-compacted appends from before
            self._seen_appended = max(1, self._seen_appended)
        else:
            self.round, self.next_seq, self.rank_base = 0, len(rows), 0
            self._pending_est = len(rows)
            self._seen_appended = 0
            if self.bloom is not None:
                self._drop_bloom_broadcast()
                self.bloom = BloomSet(self.cfg.bloom)
        self._checkpoint()

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
        cfg = self.cfg
        base = self.next_seq if preserve_state else 0
        if not preserve_state:
            for t in STATE_TABLES:
                self.catalog.table(t).replace_empty()
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
        if preserve_state:
            self.catalog.table("frontier").replace(self._sized(rows, n))
            self.next_seq += n
            self._pending_est = n
            self._seen_appended = max(1, self._seen_appended)
        else:
            self.catalog.table("frontier").replace(self._sized(rows, n))
            self.round, self.next_seq, self.rank_base = 0, n, 0
            self._pending_est = n
            self._seen_appended = 0
            if self.bloom is not None:
                self._drop_bloom_broadcast()
                self.bloom = BloomSet(cfg.bloom)
        spart.unpersist()
        self._checkpoint()
        return n

    def _checkpoint(self, lineage: dict | None = None) -> None:
        state = {
            "round": self.round,
            "next_seq": self.next_seq,
            "rank_base": self.rank_base,
            "versions": {t: self.catalog.table(t).current_version() for t in STATE_TABLES},
            "lineage": lineage or {},
        }
        tmp = self._ckpt_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.rename(tmp, self._ckpt_path)

    def resume(self) -> bool:
        """Reopen the last committed round: roll every table back to its
        checkpointed snapshot (orphaned partial-round appends vanish)."""
        if not os.path.exists(self._ckpt_path):
            return False
        with open(self._ckpt_path) as fh:
            state = json.load(fh)
        for t, v in state["versions"].items():
            tb = self.catalog.table(t)
            if tb.current_version() != v:
                tb.rollback_to(v)
        self.round = state["round"]
        self.next_seq = state["next_seq"]
        self.rank_base = state["rank_base"]
        self._pending_est = state["next_seq"]
        # appends-since-compaction is unknown after a rollback: assume some
        self._seen_appended = 1
        if self.cfg.bloom is not None:
            # the bitmap is derived state: rebuild from the url_seen snapshot
            self._drop_bloom_broadcast()
            self.bloom = build_bloom(
                self._read("url_seen", URL_SEEN_DDL), "fp", self.cfg.bloom
            )
        return True

    # ------------------------------------------------------------ one round

    def _read(self, name: str, ddl: str) -> DataFrame:
        return self.catalog.read_or_empty(name, ddl)

    def _sized(self, df: DataFrame, approx_rows: int) -> DataFrame:
        """Coalesce a small per-round write to O(rows/ROWS_PER_FILE) files."""
        parts = max(1, min(64, approx_rows // ROWS_PER_FILE + 1))
        return df.coalesce(parts)

    def step(self) -> int:
        """Run one frontier round; returns number of pages fetched (0 ⇒ done).

        Driver-barrier budget (engineered down for the N→4N scaling
        criterion): ONE small action at the head — the fused politeness +
        histogram-offsets pass (``ranks.hist_offsets``), which materializes
        the politeness cache, yields the round's row count, AND replaces
        both of the old head jobs (range-partitioning's sampling pass and
        the per-partition offsets collect) — then the state writes, which
        run CONCURRENTLY from a thread pool together with the Bloom delta
        build (wall ≈ slowest write, not the sum).  Global rank/admission
        ordering uses the (np, seq-bucket) histogram rank — exact, dense,
        and with no single-partition Exchange anywhere in the round; a
        degenerate seq distribution (one oversize bucket) falls back to the
        two-phase range rank for that round, so no operator caps round
        size."""
        import time as _time

        _t0 = _time.perf_counter()
        cfg = self.cfg
        pending = self._read("frontier", FRONTIER_DDL)
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))

        tagged = politeness.select_eligible(
            pending, cfg.default_budget, self.budgets, cfg.salt_buckets,
            two_phase=self._pending_est >= SALT_MIN_ROWS,
        ).persist()
        eligible = tagged.where("is_eligible").drop("is_eligible")
        deferred = tagged.where("NOT is_eligible").drop("is_eligible")

        # global fetch order = (priority DESC, seq): same total order the
        # politeness windows used; _np (negated priority) makes it ascending
        # for the rank, and all-zero priorities reduce to pure FIFO
        eligible = eligible.withColumn(
            "_np", -F.coalesce(F.col("priority"), F.lit(0))
        )
        # every frontier seq < next_seq by construction, so seq >> shift
        # lands in <= 2^16 buckets — the offsets collect stays tiny
        shift = max(0, int(self.next_seq - 1).bit_length() - 16)
        hoffs, n_eligible, max_group = ranks.hist_offsets(
            eligible, "_np", "seq", shift
        )  # the round's ONLY head action
        _t_head = _time.perf_counter()
        epart = None
        if n_eligible == 0:
            tagged.unpersist()
            return 0
        self.round += 1

        if max_group > cfg.hist_max_group:
            # rare skew fallback (see CrawlConfig.hist_max_group): exact
            # equal-frequency range partitioning; costs one extra job but
            # reads the already-populated politeness cache
            fetch_order = ["_np", "seq"]
            epart = ranks.range_prepare(eligible, fetch_order, nparts).persist()
            eoffs, _ = ranks.collect_offsets(epart)
            ranked = ranks.with_rank(
                epart, fetch_order, "rank", eoffs, base=self.rank_base
            ).drop("_pid", "_np")
        else:
            ranked = ranks.with_hist_rank(
                eligible, "_np", "seq", shift, hoffs, "rank", base=self.rank_base
            ).drop("_np")
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
            reqs = self._split_foreign(reqs)
        nofilter_cbs = [cb for cb, dont in cfg.callbacks.items() if dont]
        nofilter = reqs.where(F.col("callback").isin(nofilter_cbs))
        gated = reqs.where(~F.col("callback").isin(nofilter_cbs))
        # first-wins within the batch, in ADMISSION order = parent fetch
        # order (_prank, child_idx) — equals (parent_seq, child_idx) under
        # uniform priorities, and matches the simulator when they differ
        w_fp = Window.partitionBy("fp").orderBy("_prank", "child_idx")
        gated = (
            gated.withColumn("_rn", F.row_number().over(w_fp))
            .where("_rn = 1")
            .drop("_rn")
        )
        seen = self._read("url_seen", URL_SEEN_DDL)
        if self.bloom is not None:
            # Bloom pre-filter: rows the filter calls "definitely new" never
            # touch the url_seen table; only "maybe seen" rows (true dups +
            # the tiny FP fraction) probe the exact anti-join.
            probe = self._bloom_probe()
            flagged = gated.withColumn("_maybe", probe("fp"))
            fresh = flagged.where(~F.col("_maybe")).drop("_maybe")
            maybe = flagged.where(F.col("_maybe")).drop("_maybe")
            gated = fresh.unionByName(
                maybe.join(seen.select("fp"), "fp", "left_anti")
            )
        else:
            gated = gated.join(seen.select("fp"), "fp", "left_anti")
        gated = gated.persist()  # feeds both new_seen and the children union
        from pyspark.sql import Observation

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
        from pyspark.sql import Observation

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

        # ---- commit the round: all five state writes run concurrently
        # (independent tables → independent manifests; Spark schedules the
        # jobs in parallel), then checkpoint
        order_rows = ranked.select(
            "rank", F.lit(self.round).alias("round"), "url", "host", "attempt",
            "ua", "cookie",
        )
        items = parsed.where("out_kind = 'item'").select(*ITEMS_RAW_COLS)

        n_items_est = n_eligible * 8  # pages emit a handful of items each
        seen_tb = self.catalog.table("url_seen")
        from concurrent.futures import ThreadPoolExecutor

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
        _t_plan = _time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            results = [pool.submit(w) for w in writes]
            for fut in results:
                fut.result()
        _t_wave = _time.perf_counter()
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
            # all jobs that probed via the live broadcast have completed by
            # here (the wave is eager), so after merging the round's delta
            # the old handle can be dropped safely; the next round
            # republishes lazily.  No-delta rounds keep the broadcast.
            delta = results[-1].result()
            if delta.bitmaps.any():
                self.bloom.merge(delta)
                self._drop_bloom_broadcast()

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
        parsed.unpersist()
        found.unpersist()
        tagged.unpersist()
        ranked.unpersist()
        if epart is not None:  # skew-fallback path only
            epart.unpersist()
        gated.unpersist()
        for df in self._round_caches:  # fleet-mode _split_foreign cache
            df.unpersist()
        self._round_caches.clear()
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
            "post_s": round(_time.perf_counter() - _t_wave, 3),
            "parse_tasks": parse_tasks,
        }
        return n_eligible

    # ------------------------------------------------------------ middleware

    def _with_middleware(self, batch: DataFrame) -> DataFrame:
        """U3: stamp per-request ``ua``/``cookie``/``headers_json`` columns
        onto the eligible batch before the fetch join (the reference mutates
        each Request in the downloader middleware chain,
        `SP/middlewares/SPMiddleWare.py:40-133`, reading headers/cookies the
        job pushed to Redis, `SP_JOBS/job.py:42-45`).  The fetch stage and
        crawl_order lineage see the stamped values; rotation is the
        deterministic F13 pick, mirrored driver-side by the simulator."""
        import json as _json

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
            F.lit(_json.dumps(cfg.default_headers, sort_keys=True))
            if cfg.default_headers
            else F.lit("")
        )
        return (
            batch.withColumn("ua", ua)
            .withColumn("cookie", cookie)
            .withColumn("headers_json", headers)
        )

    # ------------------------------------------------------------ fleet

    def _split_foreign(self, reqs: DataFrame) -> DataFrame:
        """Export children owned by other workers to their handoff inboxes
        (atomic dir rename per target); return only own-host children."""
        import uuid

        from .fleet import shard_of_expr

        w, W = self.shard
        sh = shard_of_expr(F.col("host"), W, self.host_map)
        tagged = reqs.withColumn("_w", sh).persist()
        self._round_caches.append(tagged)  # released at end of step()
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
        own = tagged.where(F.col("_w") == w).drop("_w")
        return own

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
        nofilter_cbs = [cb for cb, dont in self.cfg.callbacks.items() if dont]
        nofilter = reqs.where(F.col("callback").isin(nofilter_cbs))
        gated = reqs.where(~F.col("callback").isin(nofilter_cbs))
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
        w_fp = Window.partitionBy("fp").orderBy(*ingest_order)
        gated = (
            gated.withColumn("_rn", F.row_number().over(w_fp))
            .where("_rn = 1")
            .drop("_rn")
        )
        seen = self._read("url_seen", URL_SEEN_DDL)
        gated = gated.join(seen.select("fp"), "fp", "left_anti").persist()
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
                delta = build_bloom(new_seen, "fp", self.cfg.bloom)
                if delta.bitmaps.any():
                    self.bloom.merge(delta)
                    self._drop_bloom_broadcast()
            self.next_seq += n_new
            self._pending_est += n_new
        apart.unpersist()
        gated.unpersist()
        self._ingested.update(fresh)
        self.handoff_consumed += len(fresh)
        return len(fresh)

    def run(self) -> dict:
        """Loop to frontier exhaustion (idle-close analogue, SURVEY.md T2)."""
        total = 0
        while self.round < self.cfg.max_rounds:
            n = self.step()
            if n == 0:
                break
            total += n
        return {"rounds": self.round, "fetched": total}

    # ------------------------------------------------------------ outputs

    def crawl_order(self) -> DataFrame:
        return self._read("crawl_order", CRAWL_ORDER_DDL)

    def url_seen(self) -> DataFrame:
        return self._read("url_seen", URL_SEEN_DDL)

    def metrics(self) -> DataFrame:
        """Per-(round, host) fetch counts — the reference's progress metrics
        (A3/A4), derived from crawl_order (exact same rows, grouped)."""
        return (
            self.crawl_order()
            .groupBy("round", "host")
            .agg(F.count("*").alias("n"))
            .select("round", "host", "n")
        )

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
