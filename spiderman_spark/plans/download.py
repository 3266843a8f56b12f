"""ImageDownloader — the decoupled attachment downloader as DataFrame rounds.

Reference lifecycle (`/root/reference/download.py:51-186`, entry
`execute_download.py`): scan ``<spider>_file`` for rows with
``status IN ('未下载','下载失败') AND bizdate >= bd`` → push requests to a Redis
list → worker loop pops batches, fetches each file with an in-place retry loop
(≤3 tries, per-request delay), writes bytes to disk, and batch-UPDATEs
``file_path``/``status`` ('下载成功'/'下载失败') back by keyid
(`download.py:148-158`).  Skip-if-exists unless ``overwrite``
(`download.py:119`).

Spark mapping (SURVEY.md §3.3, S5/S16/J4/P4/P8):

- job scan     → ``file_meta.where(status ∈ retry-set, bizdate >= bd)``;
- skip-exists  → left_anti join vs the ``images`` table's already-fetched urls;
- fetch        → per-round politeness batch joined INTO the corpus scan
                 (broadcast the small batch; the 100 TB image corpus is never
                 shuffled), bytes + caption come back from the corpus row;
- decode/verify→ one Arrow-batched ``mapInPandas``: numpy decode, dimension +
                 phash structural check (input_hint per-row invariant; the
                 PSNR-vs-ground-truth and caption-equality asserts live in
                 tests, where ground truth is available);
- update       → MERGE by url into ``file_meta`` (read-modify-write with an
                 atomic manifest swap on the parquet backend — Iceberg MERGE
                 INTO upstream);
- bytes        → appended to the ``images`` table with exactly the input_hint
                 shape (image_id, bytes, w, h, fmt, caption, phash) + lineage.

Determinism contract: job order = ``ORDER BY keyid`` (the reference's SQL scan
order is engine-dependent; keyid order is the deterministic choice, applied
identically to the simulator's seed list).  The reference's in-place retry
loop is modeled as requeue-keeping-seq into the next round — same attempt
count, same final status, FIFO order preserved — matching the simulator's
'file' callback semantics exactly.  URL dedup happens at admission (two
file_meta rows sharing a url fetch once); the MERGE joins status back by url,
so both rows reach the reference's end state.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..corpusgen import RETRY_HTTP_CODES
from ..operators import politeness, ranks
from ..tableio import Catalog

STATUS_PENDING = "未下载"
STATUS_OK = "下载成功"
STATUS_FAIL = "下载失败"

DL_FRONTIER_DDL = (
    "seq long, url string, host string, file_type string, file_name string,"
    " attempt int"
)
DL_ORDER_DDL = "rank long, round int, url string, host string, attempt int"
IMAGES_DDL = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string,"
    " phash long, url string, file_path string, verified boolean, round int"
)

_DL_STATE = ("dl_frontier", "dl_order", "images", "file_meta")


@dataclass
class DownloadConfig:
    bizdate: str = "20240101"
    retry_times: int = 3  # download.py:42 self.retry
    overwrite: bool = False
    default_budget: int = 8
    salt_buckets: int = 16
    files_store: str = "files"  # FILES_STORE path prefix (metadata only)
    spider: str = "zhifang"
    max_rounds: int = 100000
    # fraction of fetched rows whose bytes are decoded and verified in the
    # Python stage (deterministic hash sample).  1.0 = verify every row (the
    # correctness-test default).  At corpus scale piping every 100KB blob
    # through the JVM<->Python Arrow boundary is the bottleneck — statistical
    # verification (e.g. 0.1) keeps the structural check while the bytes-at-
    # rest path stays entirely JVM-side.  Unverified rows carry verified=NULL
    # ("not checked"), never a claimed True.
    verify_fraction: float = 1.0
    # file_meta hash-bucket count: the per-round status MERGE rewrites only
    # the buckets its updates hash into (O(updates), not O(table) — at a
    # 100 TB file_meta the old full-table rewrite IS the job).  Size so one
    # bucket ≈ a few hundred MB at target scale.
    meta_buckets: int = 32


def _decode_verify_udf():
    """mapInPandas stage: decode bytes per row, structural verification.

    Emits ONLY (image_id, verified) — bytes flow Arrow-batched INTO Python
    for the decode but never back out; the images table is assembled JVM-side
    by joining the verdicts onto the fetch join, so the wide binary column
    crosses the JVM/Python boundary exactly once.  Checks: (a) decode
    success, (b) w/h equality with metadata, (c) recomputed average-phash
    equality for lossless fmts / hamming <= 2 for the quantized lossy fmt.
    """
    import pandas as pd

    from .. import imagecodec as ic

    def stage(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                ok = True
                try:
                    px = ic.decode(bytes(r.bytes), r.fmt)
                    ok = px.shape == (r.h, r.w, 3)
                    if ok:
                        dec_ph = ic.average_phash(px)
                        if r.fmt in ("rgb8", "png"):
                            ok = dec_ph == r.phash
                        else:
                            ok = bin((dec_ph ^ r.phash) & ((1 << 64) - 1)).count("1") <= 2
                except Exception:
                    ok = False
                out.append((r.image_id, bool(ok)))
            yield pd.DataFrame(out, columns=["image_id", "verified"])

    return stage


class ImageDownloader:
    def __init__(
        self,
        spark: SparkSession,
        status_corpus: DataFrame,
        image_corpus: DataFrame,
        workdir: str,
        config: DownloadConfig | None = None,
        budgets: DataFrame | None = None,
    ):
        self.spark = spark
        self.cfg = config or DownloadConfig()
        # http_status per url (the "network's" response code for the file GET)
        self.status_corpus = status_corpus.select("url", "http_status")
        self.image_corpus = image_corpus  # input_hint shape + url
        self.catalog = Catalog(spark, workdir)
        self.budgets = budgets
        self.round = 0
        self.rank_base = 0
        self._ckpt_path = os.path.join(workdir, "dl_checkpoint.json")

    # ------------------------------------------------------------ job scan

    def make_job(self, file_meta: DataFrame) -> int:
        """S16 scan + P8 skip-if-exists → deterministic dl_frontier. Returns
        the number of queued requests."""
        cfg = self.cfg
        for t in ("dl_frontier", "dl_order"):
            self.catalog.table(t).replace_empty()
        if not cfg.overwrite:
            self.catalog.table("images")  # keep prior images (skip-if-exists)
        else:
            self.catalog.table("images").replace_empty()
        self.catalog.table("file_meta").replace_bucketed(
            file_meta, "file_url", cfg.meta_buckets
        )

        todo = file_meta.where(
            F.col("status").isin(STATUS_PENDING, STATUS_FAIL)
            & (F.col("bizdate") >= cfg.bizdate)
        )
        # url dedup at admission: first keyid wins (determinism contract)
        w_url = Window.partitionBy("file_url").orderBy("keyid")
        todo = todo.withColumn("_rn", F.row_number().over(w_url)).where("_rn = 1")

        if not cfg.overwrite:
            have = self.catalog.read_or_empty("images", IMAGES_DDL).select(
                F.col("url").alias("file_url")
            )
            skipped = todo.join(have, "file_url", "left_semi")
            todo = todo.join(have, "file_url", "left_anti")
            self._merge_status(
                skipped.select(F.col("file_url").alias("url")).withColumn(
                    "new_status", F.lit(STATUS_OK)
                ).withColumn("new_path", self._path_col(F.col("url")))
            )

        # deterministic seq = global rank by keyid, two-phase (no
        # single-partition window over what is the full job scan at scale)
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        tpart = ranks.range_prepare(todo, ["keyid"], nparts).persist()
        toffs, n_seeds = ranks.collect_offsets(tpart)  # total doubles as count
        seeds = (
            ranks.with_rank(tpart, ["keyid"], "_rk", toffs)
            .withColumn("seq", F.col("_rk").cast("long") - 1)
            .select(
                "seq",
                F.col("file_url").alias("url"),
                F.substring_index(
                    F.substring_index("file_url", "://", -1), "/", 1
                ).alias("host"),
                "file_type",
                "file_name",
                F.lit(0).alias("attempt"),
            )
        )
        self.catalog.table("dl_frontier").replace(seeds)
        tpart.unpersist()
        self.round, self.rank_base = 0, 0
        self._checkpoint()
        return n_seeds

    def _path_col(self, url_col):
        """FILES_STORE/<spider>/<file_name> (`download.py:85-95`), sanitized
        (`pipelines_file.py:23` re.sub('[:*?\"<>|]','',name))."""
        cfg = self.cfg
        name = F.regexp_replace(
            F.substring_index(url_col, "/", -1), r'[:*?"<>|]', ""
        )
        return F.concat_ws("/", F.lit(cfg.files_store), F.lit(cfg.spider), name)

    # ------------------------------------------------------------ rounds

    def _checkpoint(self, lineage: dict | None = None) -> None:
        state = {
            "round": self.round,
            "rank_base": self.rank_base,
            "versions": {t: self.catalog.table(t).current_version() for t in _DL_STATE},
            "lineage": lineage or {},
        }
        tmp = self._ckpt_path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(state, fh)
        os.rename(tmp, self._ckpt_path)

    def resume(self) -> bool:
        if not os.path.exists(self._ckpt_path):
            return False
        with open(self._ckpt_path) as fh:
            state = json.load(fh)
        for t, v in state["versions"].items():
            tb = self.catalog.table(t)
            if tb.current_version() != v:
                tb.rollback_to(v)
        self.round = state["round"]
        self.rank_base = state["rank_base"]
        return True

    def step(self) -> int:
        cfg = self.cfg
        pending = self.catalog.read_or_empty("dl_frontier", DL_FRONTIER_DDL)
        nparts = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
        tagged = politeness.select_eligible(
            pending, cfg.default_budget, self.budgets, cfg.salt_buckets
        ).persist()
        eligible = tagged.where("is_eligible").drop("is_eligible")
        deferred = tagged.where("NOT is_eligible").drop("is_eligible")

        epart = ranks.range_prepare(eligible, ["seq"], nparts).persist()
        eoffs, n_eligible = ranks.collect_offsets(epart)  # doubles as count()
        if n_eligible == 0:
            epart.unpersist()
            tagged.unpersist()
            return 0
        self.round += 1

        ranked = ranks.with_rank(
            epart, ["seq"], "rank", eoffs, base=self.rank_base
        ).drop("_pid")
        batch = F.broadcast(ranked)
        with_status = self.status_corpus.join(batch, "url", "inner").persist()
        missing = ranked.join(with_status.select("url"), "url", "left_anti")

        ok = with_status.where(F.col("http_status") == 200)
        bad = with_status.where(F.col("http_status") != 200)
        retries = (
            bad.where(
                F.col("http_status").isin(list(RETRY_HTTP_CODES))
                & (F.col("attempt") < cfg.retry_times)
            )
            .select(
                "seq", "url", "host", "file_type", "file_name",
                (F.col("attempt") + 1).alias("attempt"),
            )
        )
        exhausted = bad.where(
            ~(
                F.col("http_status").isin(list(RETRY_HTTP_CODES))
                & (F.col("attempt") < cfg.retry_times)
            )
        ).select("url").unionByName(missing.select("url"))

        # fetch payload: join the ok batch INTO the image-corpus scan
        fetched = self.image_corpus.join(
            F.broadcast(ok.select("url")), "url", "inner"
        ).withColumn("file_path", self._path_col(F.col("url"))).withColumn(
            "round", F.lit(self.round)
        )
        to_verify = fetched.select("image_id", "bytes", "w", "h", "fmt", "phash")
        if cfg.verify_fraction < 1.0:
            cut = int(cfg.verify_fraction * 10000)
            to_verify = to_verify.where(
                F.pmod(F.xxhash64("image_id"), F.lit(10000)) < cut
            )
        verdicts = to_verify.mapInPandas(
            _decode_verify_udf(), "image_id string, verified boolean"
        )
        # verdicts are narrow (id, bool): broadcast them so the wide binary
        # fetch rows are never shuffled; left join → unsampled rows get NULL
        images = fetched.join(F.broadcast(verdicts), "image_id", "left").select(
            "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
            "url", "file_path", "verified", "round",
        )

        order_rows = ranked.select(
            "rank", F.lit(self.round).alias("round"), "url", "host", "attempt"
        )

        # small state appends coalesce to few files; the images append keeps
        # its natural partitioning (wide binary rows, parallel write)
        n_files = max(1, min(64, n_eligible // 200_000 + 1))
        updates = (
            ok.select("url")
            .withColumn("new_status", F.lit(STATUS_OK))
            .withColumn("new_path", self._path_col(F.col("url")))
            .unionByName(
                exhausted.withColumn("new_status", F.lit(STATUS_FAIL)).withColumn(
                    "new_path", F.lit("")
                )
            )
        )
        # four independent tables → four concurrent write jobs
        from concurrent.futures import ThreadPoolExecutor

        writes = [
            lambda: self.catalog.table("dl_order").append(order_rows.coalesce(n_files)),
            lambda: self.catalog.table("images").append(images),
            lambda: self._merge_status(updates),
            lambda: self.catalog.table("dl_frontier").replace(
                deferred.unionByName(retries).coalesce(n_files)
            ),
        ]
        with ThreadPoolExecutor(max_workers=len(writes)) as pool:
            for fut in [pool.submit(w) for w in writes]:
                fut.result()
        self.rank_base += n_eligible
        self._checkpoint(lineage={"round": self.round, "n_eligible": n_eligible})
        with_status.unpersist()
        epart.unpersist()
        tagged.unpersist()
        return n_eligible

    def run(self) -> dict:
        total = 0
        while self.round < self.cfg.max_rounds:
            n = self.step()
            if n == 0:
                break
            total += n
        return {"rounds": self.round, "fetched": total}

    # ------------------------------------------------------------ merge

    def _merge_status(self, updates: DataFrame) -> None:
        """J4: MERGE INTO file_meta USING updates ON file_url.

        Bucket-granular copy-on-write: updates hash to their buckets, ONLY
        those buckets are read back, merged, and rewritten; every untouched
        bucket's immutable files carry into the new snapshot verbatim
        (Iceberg MERGE INTO file granularity — upstream `download.py:148-158`
        batch-UPDATEs by keyid, which a 100 TB-scale engine cannot do as a
        full-table rewrite)."""
        tb = self.catalog.table("file_meta")
        if not tb.exists():
            return
        n_buckets = tb.props().get("n_buckets", self.cfg.meta_buckets)
        upd = (
            updates.withColumnRenamed("url", "file_url")
            .withColumn("_b", F.pmod(F.xxhash64("file_url"), F.lit(n_buckets)))
            .persist()
        )
        touched = sorted(r["_b"] for r in upd.select("_b").distinct().collect())
        if not touched:
            upd.unpersist()
            return
        fm = tb.read_buckets(touched)
        if fm is None:  # updates reference urls the table never contained
            upd.unpersist()
            return
        merged = (
            fm.join(F.broadcast(upd.drop("_b")), "file_url", "left")
            .withColumn("status", F.coalesce("new_status", "status"))
            .withColumn("file_path", F.coalesce("new_path", "file_path"))
            .drop("new_status", "new_path")
        )
        tb.merge_buckets(merged.select(*fm.columns), touched)
        upd.unpersist()

    # ------------------------------------------------------------ outputs

    def images(self) -> DataFrame:
        return self.catalog.read_or_empty("images", IMAGES_DDL)

    def file_meta(self) -> DataFrame:
        return self.catalog.table("file_meta").read()

    def crawl_order(self) -> DataFrame:
        return self.catalog.read_or_empty("dl_order", DL_ORDER_DDL)

    def metrics(self) -> DataFrame:
        """Per-(round, host) fetch counts, derived from dl_order (A3/A4)."""
        return (
            self.crawl_order()
            .groupBy("round", "host")
            .agg(F.count("*").alias("n"))
            .select("round", "host", "n")
        )
