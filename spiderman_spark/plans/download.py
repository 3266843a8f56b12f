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
- update       → MERGE by url into ``file_meta``: a hash-bucketed table with
                 one bucket per ``ROWS_PER_BUCKET`` rows (counted at
                 ``make_job``), one parquet file per bucket.  A round
                 rewrites only the buckets holding a url of its batch —
                 known at the head, before any write — so the MERGE is one
                 read-join-write job running beside the other writes, with
                 an atomic manifest swap (Iceberg MERGE INTO upstream);
- bytes        → appended to the ``images`` table with exactly the input_hint
                 shape (image_id, bytes, w, h, fmt, caption, phash) + lineage.

Rounds share ``CrawlEngine``'s skeleton (plans/rounds.py): the same
politeness + histogram-rank batch head (fetch order = seq: the download
frontier has no priority), the concurrent commit wave of the round's four
writes, and checkpoint/resume over ``dl_checkpoint.json``.

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

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..corpusgen import RETRY_HTTP_CODES
from ..operators import ranks
from .rounds import FrontierRounds

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

# file_meta rows per hash bucket.  A row is ~50-150 B in parquet (54 B for
# the generated corpora's rows), so a bucket is one ~100-300 MB file: big
# enough to read efficiently, small enough that a round's MERGE rewrites
# O(touched buckets) of the table
ROWS_PER_BUCKET = 1 << 21


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


class ImageDownloader(FrontierRounds):
    STATE_TABLES = ("dl_frontier", "dl_order", "images", "file_meta")
    STATE_ATTRS = ("round", "rank_base", "seq_hi")
    CHECKPOINT = "dl_checkpoint.json"
    ORDER_TABLE = "dl_order"
    ORDER_DDL = DL_ORDER_DDL

    def __init__(
        self,
        spark: SparkSession,
        status_corpus: DataFrame,
        image_corpus: DataFrame,
        workdir: str,
        config: DownloadConfig | None = None,
        budgets: DataFrame | None = None,
    ):
        super().__init__(spark, workdir, config or DownloadConfig(), budgets)
        # http_status per url (the "network's" response code for the file GET)
        self.status_corpus = status_corpus.select("url", "http_status")
        self.image_corpus = image_corpus  # input_hint shape + url
        # exclusive bound on the frontier's seqs, and so on its size: the
        # frontier only shrinks after make_job (retries keep their seq)
        self.seq_hi = 0

    # ------------------------------------------------------------ job scan

    def make_job(self, file_meta: DataFrame) -> int:
        """S16 scan + P8 skip-if-exists → deterministic dl_frontier. Returns
        the number of queued requests."""
        cfg = self.cfg
        for t in ("dl_frontier", "dl_order"):
            self.catalog.table(t).replace_empty()
        images = self.catalog.table("images")
        if cfg.overwrite:
            images.replace_empty()
        n_buckets = max(1, -(-file_meta.count() // ROWS_PER_BUCKET))
        self.catalog.table("file_meta").replace_bucketed(
            file_meta, "file_url", n_buckets
        )

        todo = file_meta.where(
            F.col("status").isin(STATUS_PENDING, STATUS_FAIL)
            & (F.col("bizdate") >= cfg.bizdate)
        )
        # url dedup at admission: first keyid wins (determinism contract)
        w_url = Window.partitionBy("file_url").orderBy("keyid")
        todo = todo.withColumn("_rn", F.row_number().over(w_url)).where("_rn = 1")

        # skip-if-exists: only a url already in `images` can be skipped, so
        # a fresh (or overwrite) job has nothing to skip and nothing to merge
        have = images.read(ddl=IMAGES_DDL)
        if have is not None:
            have = have.select(F.col("url").alias("file_url"))
            skipped = todo.join(have, "file_url", "left_semi")
            todo = todo.join(have, "file_url", "left_anti")
            self._merge_status(
                skipped.select(F.col("file_url").alias("url")).withColumn(
                    "new_status", F.lit(STATUS_OK)
                ).withColumn("new_path", self._path_col(F.col("url"))),
                self.catalog.table("file_meta").buckets_of(skipped, "file_url"),
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
        self.round, self.rank_base, self.seq_hi = 0, 0, n_seeds
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

    def step(self) -> int:
        """Run one download round; returns the number of files fetched
        (0 ⇒ done).  The shared head (``FrontierRounds._head``: ONE small
        action) yields the round's count and its rank offsets; then the four
        writes (order append, images append, status MERGE, frontier replace)
        run in one concurrent wave.  Frontier seqs are distinct and below
        ``seq_hi``, so a rank group holds at most seq_hi / 2^15 rows: the
        head's skew fallback needs seq_hi > 2^32."""
        cfg = self.cfg
        head = self._head(
            self._read("dl_frontier", DL_FRONTIER_DDL), self.seq_hi, self.seq_hi
        )
        if head is None:
            return 0
        ranked, deferred, n_eligible, caches = head
        # persisted: the status join, the order append and the status
        # updates all read the ranked batch
        ranked = ranked.persist()
        # the MERGE's buckets, before any write: every status update is for
        # a url of this batch
        touched = self.catalog.table("file_meta").buckets_of(ranked, "url")
        batch = F.broadcast(ranked)
        with_status = self.status_corpus.join(batch, "url", "inner").persist()
        caches += [ranked, with_status]

        retry = F.col("http_status").isin(list(RETRY_HTTP_CODES)) & (
            F.col("attempt") < cfg.retry_times
        )
        ok = with_status.where(F.col("http_status") == 200)
        retries = with_status.where(retry).select(
            "seq", "url", "host", "file_type", "file_name",
            (F.col("attempt") + 1).alias("attempt"),
        )
        # file_meta status by url: fetched → OK, requeued → unchanged (no
        # update row), otherwise — no retry left, or the url is absent from
        # the status corpus (NULL http_status) — FAIL
        fetched_ok = F.col("http_status") == 200
        updates = (
            ranked.select("url", "attempt")
            .join(
                F.broadcast(with_status.select("url", "http_status")), "url", "left"
            )
            .where(~F.coalesce(retry, F.lit(False)))
            .select(
                "url",
                F.when(fetched_ok, STATUS_OK)
                .otherwise(STATUS_FAIL)
                .alias("new_status"),
                F.when(fetched_ok, self._path_col(F.col("url")))
                .otherwise("")
                .alias("new_path"),
            )
        )

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

        # small state writes coalesce to few files; the images append keeps
        # its natural partitioning (wide binary rows, parallel write)
        self._wave([
            lambda: self.catalog.table("dl_order").append(
                self._sized(order_rows, n_eligible)
            ),
            lambda: self.catalog.table("images").append(images),
            lambda: self._merge_status(updates, touched),
            lambda: self.catalog.table("dl_frontier").replace(
                self._sized(deferred.unionByName(retries), n_eligible)
            ),
        ])
        self.rank_base += n_eligible
        self._checkpoint(lineage={"round": self.round, "n_eligible": n_eligible})
        for df in caches:
            df.unpersist()
        return n_eligible

    # ------------------------------------------------------------ merge

    def _merge_status(self, updates: DataFrame, touched: list[int]) -> None:
        """J4: MERGE INTO file_meta USING updates ON file_url.

        Bucket-granular copy-on-write: ONLY the ``touched`` buckets (the
        caller's superset of the buckets ``updates`` hash into) are read
        back, merged, and rewritten; every untouched bucket's immutable
        files carry into the new snapshot verbatim (Iceberg MERGE INTO file
        granularity — upstream `download.py:148-158` batch-UPDATEs by keyid,
        which a 100 TB-scale engine cannot do as a full-table rewrite).
        One write job: no action runs before it."""
        tb = self.catalog.table("file_meta")
        fm = tb.read_buckets(touched)
        if fm is None:  # no table, or the buckets hold no rows
            return
        merged = (
            fm.join(
                F.broadcast(updates.withColumnRenamed("url", "file_url")),
                "file_url",
                "left",
            )
            .withColumn("status", F.coalesce("new_status", "status"))
            .withColumn("file_path", F.coalesce("new_path", "file_path"))
            .drop("new_status", "new_path")
        )
        tb.merge_buckets(merged.select(*fm.columns), touched)

    # ------------------------------------------------------------ outputs

    def images(self) -> DataFrame:
        return self._read("images", IMAGES_DDL)

    def file_meta(self) -> DataFrame:
        return self.catalog.table("file_meta").read()
