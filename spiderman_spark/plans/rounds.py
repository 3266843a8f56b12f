"""FrontierRounds — the round skeleton of both frontier engines.

``CrawlEngine`` (plans/crawl.py) and ``ImageDownloader`` (plans/download.py)
run the reference's one loop — pop a batch off a Redis list, fetch, push the
results back (`SP/spiders/SPRedisSpider.py:24-59`, `download.py:51-186`) —
as DataFrame rounds over a ``seq``-keyed frontier table.  Here, once: the
batch head (politeness + ONE small action that sizes and ranks the batch),
the concurrent commit wave, checkpoint/resume (the engine's ``STATE_ATTRS``
plus its ``STATE_TABLES``' snapshot versions), the run loop and the
fetch-order views.  Each engine's ``step`` says what a batch fetches and
writes.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import politeness, ranks
from ..operators.politeness import SALT_MIN_ROWS
from ..tableio import Catalog

# histogram-rank skew fallback: if one (priority, seq-bucket) group of the
# head's offsets pass exceeds this many rows (a degenerate seq distribution,
# e.g. one parent emitting ~10^6 children into one stride block), pay the
# extra range-partitioning job instead of handing one window task the whole
# round
HIST_MAX_GROUP = 131072
# rows per written parquet file for per-round state writes; rounds are
# budget-bounded so they are small — without this every tiny write would
# fan out into shuffle.partitions-many files
ROWS_PER_FILE = 200_000


class FrontierRounds:
    """Base of the frontier engines.  A subclass names its state and
    defines ``step() -> int`` (rows fetched; 0 ends ``run``)."""

    STATE_TABLES: tuple[str, ...] = ()  # tables a checkpoint pins
    STATE_ATTRS: tuple[str, ...] = ()  # attributes a checkpoint restores
    CHECKPOINT = ""  # file name under the workdir
    ORDER_TABLE = ""  # fetch-order log: one row per fetch, (rank, round, ...)
    ORDER_DDL = ""

    def __init__(self, spark: SparkSession, workdir: str, config, budgets):
        self.spark = spark
        self.cfg = config
        self.catalog = Catalog(spark, workdir)
        self.budgets = budgets
        self.round = 0
        self.rank_base = 0  # fetches ranked so far: the next round's base
        self._ckpt_path = os.path.join(workdir, self.CHECKPOINT)

    # ------------------------------------------------------------ head

    def _head(
        self, pending: DataFrame, size_bound: int, seq_bound: int
    ) -> tuple[DataFrame, DataFrame, int, list] | None:
        """Open the next round over the ``pending`` frontier: per-host
        politeness (one phase while ``size_bound``, a bound on the frontier's
        rows, is below ``SALT_MIN_ROWS``), then the batch ranked from
        ``rank_base + 1`` in fetch order ``(priority DESC, seq)`` — FIFO when
        the frontier has no ``priority`` — by the (np, seq-bucket) histogram
        rank: exact, dense, no single-partition Exchange.  Seqs are below
        ``seq_bound``, so the one offsets action collects <= 2^16 buckets per
        priority; it also fills the politeness cache and counts the round.
        A bucket over ``HIST_MAX_GROUP`` rows falls back to the range rank.

        Returns ``(ranked, deferred, n, caches)`` (``caches``: persisted
        frames the caller releases after its wave), or None and no round
        opened when nothing is eligible."""
        cfg = self.cfg
        tagged = politeness.select_eligible(
            pending, cfg.default_budget, self.budgets, cfg.salt_buckets,
            two_phase=size_bound >= SALT_MIN_ROWS,
        ).persist()
        eligible = tagged.where("is_eligible").drop("is_eligible")
        deferred = tagged.where("NOT is_eligible").drop("is_eligible")
        # _np (negated priority) makes the fetch order ascending for the
        # rank; the same total order the politeness windows used
        np_ = (
            -F.coalesce(F.col("priority"), F.lit(0))
            if "priority" in pending.columns
            else F.lit(0)
        )
        eligible = eligible.withColumn("_np", np_)
        shift = max(0, int(seq_bound - 1).bit_length() - 16)
        hoffs, n, max_group = ranks.hist_offsets(eligible, "_np", "seq", shift)
        if n == 0:
            tagged.unpersist()
            return None
        self.round += 1
        caches = [tagged]
        if max_group > HIST_MAX_GROUP:
            # exact equal-frequency range partitioning: one extra job, over
            # the already-populated politeness cache
            order = ["_np", "seq"]
            nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
            epart = ranks.range_prepare(eligible, order, nparts).persist()
            caches.append(epart)
            eoffs, _ = ranks.collect_offsets(epart)
            ranked = ranks.with_rank(
                epart, order, "rank", eoffs, base=self.rank_base
            ).drop("_pid")
        else:
            ranked = ranks.with_hist_rank(
                eligible, "_np", "seq", shift, hoffs, "rank", base=self.rank_base
            )
        return ranked.drop("_np"), deferred, n, caches

    # ------------------------------------------------------------ commit

    @staticmethod
    def _sized(df: DataFrame, approx_rows: int) -> DataFrame:
        """Coalesce a small per-round write to O(rows/ROWS_PER_FILE) files."""
        return df.coalesce(max(1, min(64, approx_rows // ROWS_PER_FILE + 1)))

    @staticmethod
    def _wave(writes: list) -> list:
        """Run the round's write thunks concurrently (independent tables:
        the wall is about the slowest write); return their results in order.
        Every thunk ends before a failure is raised, so a failed wave's
        commits all lie past the checkpoint, where ``resume`` rolls back."""
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            futures = [pool.submit(w) for w in writes]
            return [f.result() for f in futures]

    def _checkpoint(self, lineage: dict | None = None) -> None:
        state = {a: getattr(self, a) for a in self.STATE_ATTRS}
        state["versions"] = {
            t: self.catalog.table(t).current_version() for t in self.STATE_TABLES
        }
        state["lineage"] = lineage or {}
        tmp = self._ckpt_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.rename(tmp, self._ckpt_path)

    def resume(self) -> bool:
        """Reopen the last committed round: roll every state table back to
        its checkpointed snapshot and restore the checkpointed attributes.
        False when there is no checkpoint."""
        if not os.path.exists(self._ckpt_path):
            return False
        with open(self._ckpt_path) as fh:
            state = json.load(fh)
        for t, v in state["versions"].items():
            tb = self.catalog.table(t)
            if tb.current_version() != v:
                tb.rollback_to(v)
        for a in self.STATE_ATTRS:
            setattr(self, a, state[a])
        return True

    # ------------------------------------------------------------ loop

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

    def _read(self, name: str, ddl: str) -> DataFrame:
        return self.catalog.read_or_empty(name, ddl)

    def crawl_order(self) -> DataFrame:
        return self._read(self.ORDER_TABLE, self.ORDER_DDL)

    def metrics(self) -> DataFrame:
        """Per-(round, host) fetch counts — the reference's progress metrics
        (A3/A4), derived from the fetch-order log (same rows, grouped)."""
        return (
            self.crawl_order()
            .groupBy("round", "host")
            .agg(F.count("*").alias("n"))
            .select("round", "host", "n")
        )
