"""The benchmark's workloads: seeded inputs, the timed job, the reference
check and the traced per-layer numbers.

Each workload is a closed-loop batch job with one client, the driver: the
next job starts only when the previous one has finished, so throughput is
work completed per second at the stated input size.

Inputs are a pure function of the workload seed.  They are generated with
the program's own generators (``corpusgen``) or, for the curation records,
here, in every run, together with the reference result the outputs are
checked against.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from spiderman_spark import corpusgen as cg
from spiderman_spark import imagecodec as ic
from spiderman_spark import simulator as sim
from spiderman_spark.functions.urltools import fingerprint, register_udfs
from spiderman_spark.operators import dedup, multimodal, politeness, ranks
from spiderman_spark.operators.parse import parse_pages, requests_of
from spiderman_spark.parselib import parse_body
from spiderman_spark.plans import crawl as crawl_plan
from spiderman_spark.plans import download as dl_plan
from spiderman_spark.tableio import Catalog, ParquetManifestTable

from .stats import dir_bytes
from .trace import JobCounter, Tracer


def side_by_side(*fns) -> None:
    """Call ``fns`` at once, each on its own thread, and re-raise the first
    error.  Set-up jobs are small: one alone leaves most cores idle."""
    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        for f in [pool.submit(fn) for fn in fns]:
            f.result()


def force(df) -> None:
    """Run a lazy plan to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Job:
    """One timed job: ``units`` of work in ``wall`` seconds, with the wall
    time of each round it ran."""

    units: int
    wall: float
    rounds: list = field(default_factory=list)
    state_bytes: int = 0
    rows_checked: int = 0
    mismatches: int = 0


class Workload:
    name = ""
    unit = ""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        # the seed's generated inputs
        self.inputs = os.path.join(work, "inputs")
        self.build_s = 0.0
        self._jobs = 0

    def _job_dir(self) -> str:
        self._jobs += 1
        d = os.path.join(self.work, f"job{self._jobs}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def prepare(self) -> None:
        """Generate the seed's inputs and the reference result; ``build_s``
        is the time the inputs took."""
        t0 = time.perf_counter()
        self.build()
        self.build_s = time.perf_counter() - t0
        self.ref = self.build_reference()

    def build(self) -> None:
        raise NotImplementedError

    def build_reference(self):
        raise NotImplementedError

    def load(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        """Run every plan a job runs once, on separate small inputs."""
        raise NotImplementedError

    def set_up(self) -> None:
        """Build and load the seed's inputs while the warm-up runs: the
        warm-up needs none of them."""

        def inputs():
            self.prepare()
            self.load()

        side_by_side(inputs, self.warm_up)

    def reset(self) -> None:
        """Forget the previous window's job outputs."""
        self.outputs: list = []

    def run_one(self, tracer: Tracer | None) -> Job:
        raise NotImplementedError

    def run_jobs(self, seconds: float, tracer: Tracer | None = None) -> list[Job]:
        """Jobs back to back until ``seconds`` have passed; the job running
        then completes, so every job is whole."""
        self.reset()
        jobs: list[Job] = []
        t_end = time.perf_counter() + seconds
        while not jobs or time.perf_counter() < t_end:
            jobs.append(self.run_one(tracer))
        return jobs

    def check(self, jobs: list[Job]) -> None:
        """Fill ``rows_checked``/``mismatches`` of every job."""
        raise NotImplementedError

    def install(self, tracer: Tracer) -> None:
        """Wrap the program's eager public calls the traced run times."""

    def layer_metrics(self, tracer: Tracer, jobs: list[Job]) -> dict:
        raise NotImplementedError


def _table_data_dirs(tb: ParquetManifestTable) -> set:
    return {d for d in os.listdir(tb.root) if d.startswith("data-")}


def _written(root: str, dirs) -> tuple[int, int, int]:
    """(parquet files, bytes, rows) under the given data directories; rows
    come from the parquet footers."""
    import pyarrow.parquet as pq

    n = b = rows = 0
    for d in dirs:
        for dirpath, _ds, files in os.walk(os.path.join(root, d)):
            for f in files:
                if f.endswith(".parquet"):
                    path = os.path.join(dirpath, f)
                    n += 1
                    b += os.path.getsize(path)
                    rows += pq.read_metadata(path).num_rows
    return n, b, rows


TABLE_COMMITS = ("append", "replace", "compact_small", "merge_buckets")


def install_tableio_spans(tracer: Tracer) -> None:
    """Spans around the table commits, recording the data files, bytes and
    rows each writes (new ``data-*`` directories under the table root)."""

    def before(args, kwargs):
        return _table_data_dirs(args[0])

    def after(span, state, args, result):
        tb = args[0]
        n, b, rows = _written(tb.root, _table_data_dirs(tb) - state)
        span.attrs.update(files=n, bytes=b, rows=rows, table=tb.name)

    for attr in TABLE_COMMITS:
        tracer.wrap(ParquetManifestTable, attr, f"tableio.{attr}", before, after)


def tableio_metrics(tracer: Tracer) -> dict:
    commits = [s for a in TABLE_COMMITS for s in tracer.by_name(f"tableio.{a}")]
    return {
        "tableio.append_s": tracer.total("tableio.append"),
        "tableio.replace_s": tracer.total("tableio.replace"),
        "tableio.compact_s": tracer.total("tableio.compact_small"),
        "tableio.merge_buckets_s": tracer.total("tableio.merge_buckets"),
        "tableio.commits": len(commits),
        "tableio.files_written": sum(s.attrs["files"] for s in commits),
        "tableio.bytes_written": sum(s.attrs["bytes"] for s in commits),
    }


# ====================================================================== crawl


def crawl_mismatches(order, seen, ref_order, ref_seen) -> int:
    """Rows of a crawl's output that differ from the reference: crawl_order
    tuples compared position by position (plus any length difference) and
    the url_seen fingerprint sets compared as sets."""
    diff = sum(1 for a, b in zip(order, ref_order) if tuple(a) != tuple(b))
    diff += abs(len(order) - len(ref_order))
    return diff + len(set(seen) ^ set(ref_seen))


class CrawlPolite(Workload):
    """BFS crawl of a BENCH-shaped corpus (64 hosts, a mega-host with about
    a third of the URLs, persistent retryable failures on about 1 URL in
    37, list→detail overlap) under a tight per-host budget.  Detail URLs
    pass the dupefilter.  A job seeds a fresh crawl and runs its first
    ``ROUNDS`` rounds, the list round and the first detail round, both full
    polite rounds (the mega-host alone needs dozens); each is checked
    against the simulator's."""

    name = "crawl_polite"
    unit = "pages/s"
    CALLBACKS = {"list": True, "detail": False}
    BUDGET = 8
    ROUNDS = 2
    WARM = cg.CorpusSpec(seed=1, hosts=4, list_pages=4, details_per_page=3, images_per_detail=1)
    LIST_PAGES = 100
    DETAILS = 20

    def spec(self) -> cg.CorpusSpec:
        return cg.CorpusSpec(
            seed=self.seed, hosts=64, list_pages=self.LIST_PAGES,
            details_per_page=self.DETAILS, images_per_detail=1,
        )

    # url_seen is compacted every ROUNDS rounds, not every 8: a job runs
    # only ROUNDS rounds, and they should pay their share of compaction
    COMPACT_EVERY = ROUNDS

    def config(self) -> crawl_plan.CrawlConfig:
        return crawl_plan.CrawlConfig(
            callbacks=dict(self.CALLBACKS), default_budget=self.BUDGET,
            compact_every=self.COMPACT_EVERY,
        )

    def build(self) -> None:
        cg.build_crawl_corpus(self.spark, self.spec()).write.parquet(
            os.path.join(self.inputs, "corpus")
        )

    def build_reference(self):
        spec = self.spec()
        corpus = sim.corpus_as_dict(spec)
        seeds = sim.make_seeds(spec)
        t0 = time.perf_counter()
        res = sim.simulate_crawl(
            corpus, seeds, politeness=sim.Politeness(max_per_round=self.BUDGET),
            callbacks={**self.CALLBACKS, "file": False},
        )
        crawl_s = time.perf_counter() - t0
        # the round each fingerprint entered url_seen: the gated children of
        # the pages fetched ok in that round that no earlier page emitted
        fp_round: dict[str, int] = {}
        ok_by_round: dict[int, int] = {}
        minsize = self.config().minsize
        for _rank, rnd, url, _host, _att in res.crawl_order:
            row = corpus[url]
            if row["http_status"] != 200 or row["body_size"] < minsize:
                continue
            ok_by_round[rnd] = ok_by_round.get(rnd, 0) + 1
            _items, children = parse_body(url, row["body"])
            for c in children:
                if not self.CALLBACKS.get(c["callback"], False):
                    fp = fingerprint(c.get("method", "GET"), c["url"], c.get("body", "") or "")
                    fp_round.setdefault(fp, rnd)
        if set(fp_round) != res.url_seen:
            raise RuntimeError("crawl reference: url_seen replay disagrees with the simulator")
        return {
            "crawl_order": [list(t) for t in res.crawl_order],
            "fp_round": fp_round,
            "ok_by_round": ok_by_round,
            "crawl_s": crawl_s,
        }

    def load(self) -> None:
        self.corpus = self.spark.read.parquet(os.path.join(self.inputs, "corpus"))
        self.seeds = sim.make_seeds(self.spec())

    def warm_up(self) -> None:
        corpus = cg.build_crawl_corpus(self.spark, self.WARM)
        eng = crawl_plan.CrawlEngine(
            self.spark, corpus, os.path.join(self.work, "warm"), self.config()
        )
        eng.seed(sim.make_seeds(self.WARM))
        # the list round and the detail round it feeds: every plan a round
        # builds (children, dedup gate, retries) runs once
        eng.step()
        eng.step()
        eng.crawl_order().collect()
        eng.url_seen().collect()

    def run_one(self, tracer):
        wd = self._job_dir()
        eng = crawl_plan.CrawlEngine(self.spark, self.corpus, wd, self.config())
        t0 = time.perf_counter()
        eng.seed(self.seeds)
        job = Job(0, 0.0)
        for _ in range(self.ROUNDS):
            r0 = time.perf_counter()
            n = eng.step()
            if n == 0:
                break
            job.rounds.append(time.perf_counter() - r0)
            job.units += n
        job.wall = time.perf_counter() - t0
        job.state_bytes = dir_bytes(wd)
        self.outputs.append(eng)
        return job

    def check(self, jobs):
        ref_order = [tuple(t) for t in self.ref["crawl_order"]]
        for job, eng in zip(jobs, self.outputs):
            k = eng.round
            order = [
                (r["rank"], r["round"], r["url"], r["host"], r["attempt"])
                for r in eng.crawl_order().orderBy("rank").collect()
            ]
            seen = [r["fp"] for r in eng.url_seen().select("fp").collect()]
            want_order = [t for t in ref_order if t[1] <= k]
            want_seen = [fp for fp, r in self.ref["fp_round"].items() if r <= k]
            job.rows_checked = len(want_order) + len(want_seen)
            job.mismatches = crawl_mismatches(order, seen, want_order, want_seen)

    # ------------------------------------------------------------ traced run

    def install(self, tracer: Tracer) -> None:
        self.rounds: list[dict] = []
        self.job_counter = JobCounter(self.spark)
        wl = self

        def step_before(args, kwargs):
            eng = args[0]
            seen_tb = eng.catalog.table("url_seen")
            seen_df = seen_tb.read(ddl=crawl_plan.URL_SEEN_DDL)
            wl.job_counter.new_jobs()
            return {
                "engine": eng,
                "frontier_v": eng.catalog.table("frontier").current_version(),
                "seen_v": seen_tb.current_version(),
                "seen_files": len(seen_df.inputFiles()) if seen_df is not None else 0,
            }

        def step_after(span, state, args, n):
            state["jobs"] = wl.job_counter.new_jobs()
            if n:
                eng = state.pop("engine")
                state.update(eng.round_profile)
                state["round"] = eng.round
                state["wd"] = eng.catalog.root
                wl.rounds.append(state)

        tracer.wrap(crawl_plan.CrawlEngine, "step", "crawl.step", step_before, step_after)
        tracer.wrap(crawl_plan.CrawlEngine, "seed", "crawl.seed")
        tracer.wrap(ranks, "hist_offsets", "ranks.hist_offsets")
        tracer.wrap(ranks, "collect_offsets", "ranks.collect_offsets")
        install_tableio_spans(tracer)

    def replay(self, tracer: Tracer) -> dict:
        """Time the lazy operators of every traced round on that round's
        table versions: politeness on the frontier the round started from,
        parse on its ok pages, the urltools UDFs on the children they emit
        and the dedup anti-join against url_seen as the round saw it."""
        cfg = self.config()
        udfs = register_udfs()
        nofilter = [cb for cb, dont in cfg.callbacks.items() if dont]
        ok_pages = (
            self.corpus.where((F.col("http_status") == 200) & (F.col("body_size") >= cfg.minsize))
            .where(F.col("kind").isin("list", "detail"))
            .select("url", "body")
        )
        out = {"pending": 0, "eligible": 0, "pages": 0, "parsed": 0, "emitted": 0, "admitted": 0}
        for rd in self.rounds:
            cat = Catalog(self.spark, rd["wd"])
            pending = cat.table("frontier").read(rd["frontier_v"], ddl=crawl_plan.FRONTIER_DDL)
            tagged = politeness.select_eligible(
                pending, cfg.default_budget, None, cfg.salt_buckets,
                two_phase=False,
            )
            with tracer.span("replay.politeness.select_eligible", round=rd["round"]):
                force(tagged)
            agg = tagged.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_eligible").cast("int")).alias("e"),
            ).first()
            out["pending"] += agg["n"]
            out["eligible"] += agg["e"] or 0

            # the round's ok pages, with their fetch rank standing in for
            # seq (parse only carries seq through as parent_seq)
            order = cat.table("crawl_order").read(ddl=crawl_plan.CRAWL_ORDER_DDL)
            pages = (
                order.where(F.col("round") == rd["round"])
                .join(ok_pages, "url")
                .select(F.col("rank").alias("seq"), "url", "body")
                .persist()
            )
            out["pages"] += pages.count()
            # each timed force also fills the cache the next step reads
            parsed = parse_pages(pages).persist()
            with tracer.span("replay.parse.parse_pages", round=rd["round"]):
                force(parsed)
            out["parsed"] += parsed.count()
            children = requests_of(parsed).persist()
            out["emitted"] += children.count()
            fps = (
                children.withColumn("fp", udfs["fingerprint"]("method", "url", "body"))
                .withColumn("canon", udfs["canonical"]("url"))
                .persist()
            )
            with tracer.span("replay.urltools.fingerprint_canonical", round=rd["round"]):
                force(fps)
            seen = cat.table("url_seen").read(rd["seen_v"], ddl=crawl_plan.URL_SEEN_DDL)
            if seen is None:
                seen = self.spark.createDataFrame([], crawl_plan.URL_SEEN_DDL)
            gated = fps.where(~F.col("callback").isin(nofilter))
            fresh = gated.join(seen.select("fp"), "fp", "left_anti")
            with tracer.span("replay.crawl.dedup_antijoin", round=rd["round"]):
                force(fresh)
            out["admitted"] += (
                fps.where(F.col("callback").isin(nofilter)).count()
                + fresh.select("fp").distinct().count()
            )
            for df in (pages, parsed, children, fps):
                df.unpersist()
        return out

    def layer_metrics(self, tracer, jobs):
        counts = self.replay(tracer)
        rounds = self.rounds
        n_rounds = max(1, len(rounds))
        ref_order = self.ref["crawl_order"]
        k = max((r["round"] for r in rounds), default=0)
        # fetches of the traced rounds, counted from the reference whose
        # crawl_order the check found equal to the engine's
        attempts = sum(1 for t in ref_order if t[1] <= k)
        ok = sum(n for r, n in self.ref["ok_by_round"].items() if int(r) <= k)
        return {
            "crawl.head_s": sum(r["head_s"] for r in rounds),
            "crawl.plan_s": sum(r["plan_s"] for r in rounds),
            "crawl.wave_s": sum(r["wave_s"] for r in rounds),
            "crawl.post_s": sum(r["post_s"] for r in rounds),
            "crawl.jobs_per_round": sum(r["jobs"] for r in rounds) / n_rounds,
            "crawl.seed_s": tracer.total("crawl.seed"),
            "crawl.rounds": len(rounds),
            "crawl.admit_ratio": counts["admitted"] / max(1, counts["emitted"]),
            "crawl.fetch_ok_ratio": ok / max(1, attempts),
            "crawl.dedup_antijoin_s": tracer.total("replay.crawl.dedup_antijoin"),
            "politeness.select_s": tracer.total("replay.politeness.select_eligible"),
            "politeness.eligible_ratio": counts["eligible"] / max(1, counts["pending"]),
            "ranks.hist_offsets_s": tracer.total("ranks.hist_offsets"),
            "ranks.collect_offsets_s": tracer.total("ranks.collect_offsets"),
            "parse.pages_s": tracer.total("replay.parse.parse_pages"),
            "parse.rows_per_page": counts["parsed"] / max(1, counts["pages"]),
            "urltools.fp_canon_s": tracer.total("replay.urltools.fingerprint_canonical"),
            **tableio_metrics(tracer),
            "tableio.url_seen_files": sum(r["seen_files"] for r in rounds) / n_rounds,
            "fetch.fail_ratio": 1 - ok / max(1, attempts),
            "simulator.crawl_s": self.ref["crawl_s"],
        }


# ============================================================ image + curation


def file_meta_rows(spec: cg.CorpusSpec, bizdate: str = "20240101") -> list[tuple]:
    """The ``zhifang_file`` item table a crawl of ``spec`` would produce:
    one pending row per image link of every detail page."""
    rows = []
    for p in range(1, spec.list_pages + 1):
        for j in range(1, spec.details_per_page + 1):
            fkey = cg.md5_upper(cg.detail_url(spec, p, j))
            for url in cg.detail_out_links(spec, p, j):
                keyid = f"{bizdate}_{cg.md5_upper('zhifang_file|' + url).lower()}"
                rows.append((
                    url, url.rsplit(".", 1)[-1], url.rsplit("/", 1)[-1],
                    dl_plan.STATUS_PENDING, "", fkey, keyid, bizdate,
                    "2024-01-01 00:00:00", "zhifang",
                ))
    return rows


def image_row_errors(batches, seed: int):
    """mapInPandas body of the per-row image check: yields the number of
    rows whose decoded pixels or caption differ from the ground truth."""
    import pandas as pd

    for pdf in batches:
        bad = 0
        for r in pdf.itertuples(index=False):
            truth = ic.gen_pixels(seed, r.image_id, r.w, r.h)
            px = ic.decode(bytes(r.bytes), r.fmt)
            good = (
                px.shape == truth.shape
                and (r.fmt == "qjpg" or bool((px == truth).all()))
                and ic.psnr(px, truth) >= 40.0
                and r.caption == ic.gen_caption(seed, r.image_id)
            )
            bad += not good
        yield pd.DataFrame({"bad": [bad]})


FILE_META_DDL = (
    "file_url string, file_type string, file_name string, status string,"
    " file_path string, fkey string, keyid string, bizdate string,"
    " ctime string, spider string"
)


class ImageFetch(Workload):
    """``ImageDownloader.make_job`` then ``run()`` over an image+caption
    corpus of 160-224 px images, every fetched row decoded and verified.
    Every image is fetched once (no retries: crawl_polite covers those), so
    a job is one full round; a failed fetch is marked failed in that round."""

    name = "image_fetch"
    # above any host's share of the images (the mega-host holds a third)
    BUDGET = 4096
    LIST_PAGES = 16
    DETAILS = 10
    IMAGES = 4
    WARM = cg.CorpusSpec(
        seed=1, hosts=4, list_pages=2, details_per_page=2, images_per_detail=2,
        img_lo=160, img_hi=224,
    )

    def spec(self) -> cg.CorpusSpec:
        return cg.CorpusSpec(
            seed=self.seed, hosts=64, list_pages=self.LIST_PAGES,
            details_per_page=self.DETAILS, images_per_detail=self.IMAGES,
            img_lo=160, img_hi=224,
        )

    def config(self) -> dl_plan.DownloadConfig:
        return dl_plan.DownloadConfig(
            default_budget=self.BUDGET, verify_fraction=1.0, retry_times=0
        )

    def inputs_of(self, spec: cg.CorpusSpec) -> dict:
        """The download's three inputs for ``spec``: the crawl corpus' fetch
        statuses (no bodies needed, so made on the driver), the image corpus
        and the pending ``file_meta`` rows."""
        return {
            "status": self.spark.createDataFrame(
                [(r["url"], r["http_status"]) for r in sim.corpus_as_dict(spec).values()],
                "url string, http_status int",
            ),
            "images": cg.build_image_corpus(self.spark, spec),
            "file_meta": self.spark.createDataFrame(file_meta_rows(spec), FILE_META_DDL),
        }

    def build(self) -> None:
        for name, df in self.inputs_of(self.spec()).items():
            df.write.parquet(os.path.join(self.inputs, name))

    def build_reference(self):
        spec = self.spec()
        rows = sorted(file_meta_rows(spec), key=lambda r: r[6])  # ORDER BY keyid
        seeds = [{"url": r[0], "method": "GET", "callback": "file"} for r in rows]
        t0 = time.perf_counter()
        res = sim.simulate_crawl(
            sim.corpus_as_dict(spec), seeds,
            politeness=sim.Politeness(max_per_round=self.BUDGET, minsize=0, retry_times=0),
            callbacks={"file": False},
        )
        return {
            "crawl_order": [list(t) for t in res.crawl_order],
            "ok": sorted(d["url"] for d in res.items.get("_downloaded", [])),
            "failed": sorted(u for u, _ in res.failed),
            "crawl_s": time.perf_counter() - t0,
        }

    def _downloader(self, wd, status, images):
        return dl_plan.ImageDownloader(self.spark, status, images, wd, self.config())

    def load(self) -> None:
        read = self.spark.read.parquet
        self.status = read(os.path.join(self.inputs, "status"))
        self.images = read(os.path.join(self.inputs, "images"))
        self.file_meta = read(os.path.join(self.inputs, "file_meta"))

    def warm_up(self) -> None:
        warm = self.inputs_of(self.WARM)
        d = self._downloader(os.path.join(self.work, "warm"), warm["status"], warm["images"])
        d.make_job(warm["file_meta"])
        d.step()
        d.images().where("verified").count()

    def run_one(self, tracer):
        wd = self._job_dir()
        d = self._downloader(wd, self.status, self.images)
        t0 = time.perf_counter()
        d.make_job(self.file_meta)
        job = Job(len(self.ref["ok"]), 0.0)
        while True:
            r0 = time.perf_counter()
            if d.step() == 0:
                break
            job.rounds.append(time.perf_counter() - r0)
        job.wall = time.perf_counter() - t0
        job.state_bytes = dir_bytes(wd)
        self.outputs.append(d)
        return job

    def check(self, jobs):
        ref_order = [tuple(t) for t in self.ref["crawl_order"]]
        ok, failed = set(self.ref["ok"]), set(self.ref["failed"])
        for job, d in zip(jobs, self.outputs):
            order = [
                (r["rank"], r["round"], r["url"], r["host"], r["attempt"])
                for r in d.crawl_order().orderBy("rank").collect()
            ]
            bad = crawl_mismatches(order, [], ref_order, [])
            statuses = {
                r["file_url"]: r["status"]
                for r in d.file_meta().select("file_url", "status").collect()
            }
            bad += sum(
                1 for u, st in statuses.items()
                if st != (dl_plan.STATUS_OK if u in ok
                          else dl_plan.STATUS_FAIL if u in failed
                          else dl_plan.STATUS_PENDING)
            )
            n, b = self.check_images(d)
            job.rows_checked = len(ref_order) + len(statuses) + n
            job.mismatches = bad + b

    def check_images(self, d) -> tuple[int, int]:
        """Decoded pixels against the generator's ground truth (PSNR >= 40
        dB; lossless formats exact) and caption equality, for every fetched
        row, spread over the session's cores (``image_row_errors``).  The
        engine's own ``verified`` verdict is reported as
        ``download.verified_ratio``, not checked here."""
        imgs = d.images()
        urls = [r["url"] for r in imgs.select("url").collect()]
        bad = len(set(urls) ^ set(self.ref["ok"])) + abs(len(urls) - len(self.ref["ok"]))
        seed = self.seed
        errors = imgs.select("image_id", "bytes", "w", "h", "fmt", "caption").mapInPandas(
            lambda batches: image_row_errors(batches, seed), "bad long"
        ).agg(F.sum("bad")).first()[0]
        return len(urls), bad + (errors or 0)

    # ------------------------------------------------------------ traced run

    def install(self, tracer: Tracer) -> None:
        self.rounds: list[dict] = []
        self.job_counter = JobCounter(self.spark)
        wl = self

        def step_before(args, kwargs):
            d = args[0]
            wl.job_counter.new_jobs()
            return {"frontier_v": d.catalog.table("dl_frontier").current_version(),
                    "meta_v": d.catalog.table("file_meta").current_version(),
                    "wd": d.catalog.root}

        def step_after(span, state, args, n):
            state["jobs"] = wl.job_counter.new_jobs()
            state["n"] = n
            if n:
                state["meta_v_after"] = args[0].catalog.table("file_meta").current_version()
                wl.rounds.append(state)

        tracer.wrap(dl_plan.ImageDownloader, "make_job", "download.make_job")
        tracer.wrap(dl_plan.ImageDownloader, "step", "download.step", step_before, step_after)
        tracer.wrap(ranks, "collect_offsets", "ranks.collect_offsets")

    def layer_metrics(self, tracer, jobs):
        """Politeness replayed on every round's download frontier, the
        file_meta merges' rewrite ratio, and decode + phash timed over a
        fixed sample of fetched rows."""
        cfg = self.config()
        pending_n = eligible_n = updated = 0
        for rd in self.rounds:
            cat = Catalog(self.spark, rd["wd"])
            pending = cat.table("dl_frontier").read(rd["frontier_v"], ddl=dl_plan.DL_FRONTIER_DDL)
            tagged = politeness.select_eligible(pending, cfg.default_budget, None, cfg.salt_buckets)
            with tracer.span("replay.politeness.select_eligible"):
                force(tagged)
            agg = tagged.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.col("is_eligible").cast("int")).alias("e"),
            ).first()
            pending_n += agg["n"]
            eligible_n += agg["e"] or 0
            # rows whose status or path the round's merge changed
            meta = cat.table("file_meta")
            cols = ("file_url", "status", "file_path")
            updated += (
                meta.read(rd["meta_v_after"]).select(*cols)
                .subtract(meta.read(rd["meta_v"]).select(*cols)).count()
            )
        rewritten = sum(
            s.attrs.get("rows", 0) for s in tracer.by_name("tableio.merge_buckets")
        )
        imgs = self.outputs[0].images()
        n_imgs = imgs.count()
        verified = imgs.where("verified").count()
        sample = imgs.orderBy("image_id").limit(32).collect()
        t0 = time.perf_counter()
        for r in sample:
            ic.average_phash(ic.decode(bytes(r["bytes"]), r["fmt"]))
        decode_ms = (time.perf_counter() - t0) * 1000 / max(1, len(sample))
        rounds = self.rounds
        return {
            "download.make_job_s": tracer.total("download.make_job"),
            "download.step_s": tracer.total("download.step"),
            "download.rounds": len(rounds),
            "download.jobs_per_round": sum(r["jobs"] for r in rounds) / max(1, len(rounds)),
            "download.verified_ratio": verified / max(1, n_imgs),
            "imagecodec.decode_ms_per_image": decode_ms,
            "politeness.select_s": tracer.total("replay.politeness.select_eligible"),
            "politeness.eligible_ratio": eligible_n / max(1, pending_n),
            "ranks.collect_offsets_s": tracer.total("ranks.collect_offsets"),
            "tableio.merge_rewrite_ratio": rewritten / max(1, updated),
            "fetch.fail_ratio": 1 - len(self.ref["ok"]) / max(1, len(self.ref["crawl_order"])),
            "simulator.crawl_s": self.ref["crawl_s"],
        }


def caption_vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 9))))
    return sorted(words)


def curation_records(seed: int, n: int, clusters: list[int]) -> tuple[list[tuple], list[list[int]]]:
    """``n`` (id, caption, phash) records.  Planted clusters of the given
    sizes are clones: every member repeats the cluster's caption word for
    word and carries its phash with at most one bit flipped, so each pair
    of members is both a caption duplicate and a phash near-duplicate.  The
    rest draw 10-18 words from a 20,000-word vocabulary and a random phash,
    so accidental near-duplicates are vanishingly rare.  Ids are shuffled so
    clusters do not sit in id order."""
    rng = random.Random(f"curate:{seed}")
    vocab = caption_vocab(rng, 20000)
    ids = list(range(1, n + 1))
    rng.shuffle(ids)

    def caption():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(10, 18)))

    def signed(u):
        return u - (1 << 64) if u >= 1 << 63 else u

    rows, planted, pos = [], [], 0
    for size in clusters:
        cap, ph = caption(), rng.getrandbits(64)
        members = ids[pos:pos + size]
        pos += size
        planted.append(sorted(members))
        for i in members:
            flip = rng.randrange(-1, 64)
            rows.append((i, cap, signed(ph if flip < 0 else ph ^ (1 << flip))))
    for i in ids[pos:]:
        rows.append((i, caption(), signed(rng.getrandbits(64))))
    rows.sort()
    return rows, planted


def hamming_pairs(ids, hashes, max_hamming: int) -> list[tuple[int, int, int]]:
    """Every pair within ``max_hamming`` bits, by brute force over all
    pairs (numpy, a byte-popcount table)."""
    import numpy as np

    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    ids = np.asarray(ids, dtype=np.int64)
    h = np.asarray(hashes, dtype=np.int64).view(np.uint64)
    out = []
    for i0 in range(0, len(h), 512):
        x = h[i0:i0 + 512, None] ^ h[None, :]
        d = lut[x.view(np.uint8)].reshape(x.shape + (8,)).sum(axis=-1)
        for a, b in zip(*np.nonzero(d <= max_hamming)):
            if ids[a + i0] < ids[b]:
                out.append((int(ids[a + i0]), int(ids[b]), int(d[a, b])))
    return sorted(out)


def bigram_jaccard_bp(a: str, b: str) -> int:
    """Jaccard of the distinct word-bigram sets in basis points, truncated
    as ``minhash_lsh_pairs`` reports it."""
    def grams(s):
        t = s.strip().split()
        return {f"{x} {y}" for x, y in zip(t, t[1:])}

    ga, gb = grams(a), grams(b)
    common = len(ga & gb)
    return int(common * 10000 / (len(ga) + len(gb) - common))


def components_of(pairs) -> dict[int, int]:
    """Vertex -> smallest id of its connected component (union-find)."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


class CurateNeardup(Workload):
    """phash near-duplicate pairs, MinHash-LSH caption pairs (xxhash64)
    and the connected components over both, on seeded caption+phash
    records with planted clone clusters of varied size; the largest
    cluster exceeds the hot-bucket cap."""

    name = "curate_neardup"
    RECORDS = 1200
    CLUSTERS = [64, 16, 8] + [6] * 4 + [3] * 12 + [2] * 30
    HOT_CAP = 48
    MAX_HAMMING = 3
    THRESHOLD = 0.5

    def build(self) -> None:
        rows, _ = curation_records(self.seed, self.RECORDS, self.CLUSTERS)
        self.spark.createDataFrame(rows, "id long, caption string, phash long").write.parquet(
            os.path.join(self.inputs, "records")
        )

    def build_reference(self):
        rows, planted = curation_records(self.seed, self.RECORDS, self.CLUSTERS)
        return {
            "phash_pairs": [list(p) for p in hamming_pairs(
                [r[0] for r in rows], [r[2] for r in rows], self.MAX_HAMMING
            )],
            "captions": {str(r[0]): r[1] for r in rows},
            "planted": planted,
        }

    def load(self) -> None:
        self.records = self.spark.read.parquet(os.path.join(self.inputs, "records"))

    def curate(self, records, wd, tracer=None) -> Catalog:
        """One curation pass, its three results written as tables."""
        cat = Catalog(self.spark, wd)

        def timed(name):
            return tracer.span(name) if tracer else contextlib.nullcontext()

        with timed("multimodal.phash_neardup_pairs"):
            ph = multimodal.phash_neardup_pairs(
                records, max_hamming=self.MAX_HAMMING, bands=4, id_col="id",
                phash_col="phash", max_bucket_rows=self.HOT_CAP,
            )
            cat.table("phash_pairs").replace(ph.coalesce(1))
        with timed("dedup.minhash_lsh_pairs"):
            mh = dedup.minhash_lsh_pairs(
                records, "id", "caption", n=2, k=16, bands=4,
                threshold=self.THRESHOLD, hash_family="xxhash64",
                max_bucket_rows=self.HOT_CAP,
            )
            cat.table("caption_pairs").replace(mh.coalesce(1))
        with timed("dedup.neardup_components"):
            edges = (
                cat.table("phash_pairs").read().select("id_a", "id_b")
                .unionByName(cat.table("caption_pairs").read().select("id_a", "id_b"))
            )
            comps = dedup.neardup_components(edges)
            cat.table("components").replace(comps.coalesce(1))
        return cat

    def warm_up(self) -> None:
        rows, _ = curation_records(self.seed + 1, 200, [20, 5, 2, 2])
        recs = self.spark.createDataFrame(rows, "id long, caption string, phash long")
        self.curate(recs, os.path.join(self.work, "warm"))

    def run_one(self, tracer):
        wd = self._job_dir()
        t0 = time.perf_counter()
        cat = self.curate(self.records, wd, tracer)
        job = Job(self.RECORDS, time.perf_counter() - t0, [], dir_bytes(wd))
        self.outputs.append(cat)
        return job

    def check(self, jobs):
        """phash pairs equal to the brute-force set, every caption pair's
        Jaccard recomputed exactly, every planted pair recalled by both
        operators, and every component labelled with its smallest id."""
        want_ph = {tuple(p) for p in self.ref["phash_pairs"]}
        caps = self.ref["captions"]
        planted = {
            (a, b) for members in self.ref["planted"]
            for i, a in enumerate(members) for b in members[i + 1:]
        }
        for job, cat in zip(jobs, self.outputs):
            got_ph = {
                (r["id_a"], r["id_b"], r["hamming"])
                for r in cat.table("phash_pairs").read().collect()
            }
            bad = len(got_ph ^ want_ph)
            got_mh = cat.table("caption_pairs").read().collect()
            mh_pairs = set()
            for r in got_mh:
                a, b = r["id_a"], r["id_b"]
                mh_pairs.add((a, b))
                jbp = bigram_jaccard_bp(caps[str(a)], caps[str(b)])
                bad += jbp != r["jaccard_bp"] or jbp < self.THRESHOLD * 10000 or a >= b
            bad += len(planted - mh_pairs)
            bad += len(planted - {(a, b) for a, b, _ in got_ph})
            want_rep = components_of([(a, b) for a, b, _ in got_ph] + sorted(mh_pairs))
            got_rep = {
                r["did"]: r["rep"] for r in cat.table("components").read().collect()
            }
            bad += sum(
                1 for v in want_rep.keys() | got_rep.keys()
                if want_rep.get(v) != got_rep.get(v)
            )
            job.rows_checked = len(want_ph) + len(got_mh) + len(planted) + len(want_rep)
            job.mismatches = bad

    def layer_metrics(self, tracer, jobs):
        n_pairs = self.outputs[0].table("caption_pairs").read().count()
        # every LSH candidate, verified or not: the same operator with the
        # verify threshold at 0 keeps all of them
        with tracer.span("replay.dedup.minhash_candidates"):
            cand = dedup.minhash_lsh_pairs(
                self.records, "id", "caption", n=2, k=16, bands=4, threshold=0.0,
                hash_family="xxhash64", max_bucket_rows=self.HOT_CAP,
            ).count()
        passes = max(1, len(jobs))
        return {
            "multimodal.phash_pairs_s": tracer.total("multimodal.phash_neardup_pairs") / passes,
            "dedup.minhash_pairs_s": tracer.total("dedup.minhash_lsh_pairs") / passes,
            "dedup.components_s": tracer.total("dedup.neardup_components") / passes,
            "dedup.candidates": cand,
            "dedup.verify_yield": n_pairs / max(1, cand),
        }


class ImageCurate(Workload):
    """Fetch and verify the images a crawl listed, then curate a seeded
    caption+phash collection: one job is an ``image_fetch`` job followed by
    a ``curate_neardup`` pass.  A job's work is the images fetched and
    verified plus the records resolved."""

    name = "image_curate"
    unit = "records/s"

    def __init__(self, spark, seed, work):
        super().__init__(spark, seed, work)
        self.fetch = ImageFetch(spark, seed, os.path.join(work, "fetch"))
        self.curate = CurateNeardup(spark, seed, os.path.join(work, "curate"))
        self.parts = (self.fetch, self.curate)

    def set_up(self) -> None:
        # the parts share no tables
        side_by_side(*(p.set_up for p in self.parts))
        self.build_s = max(p.build_s for p in self.parts)

    def reset(self) -> None:
        super().reset()
        for p in self.parts:
            p.reset()

    def run_one(self, tracer):
        a = self.fetch.run_one(tracer)
        b = self.curate.run_one(tracer)
        self.outputs.append((a, b))
        return Job(a.units + b.units, a.wall + b.wall, a.rounds, a.state_bytes + b.state_bytes)

    def check(self, jobs):
        side_by_side(
            lambda: self.fetch.check([a for a, _ in self.outputs]),
            lambda: self.curate.check([b for _, b in self.outputs]),
        )
        for job, (a, b) in zip(jobs, self.outputs):
            job.rows_checked = a.rows_checked + b.rows_checked
            job.mismatches = a.mismatches + b.mismatches

    def install(self, tracer: Tracer) -> None:
        for p in self.parts:
            p.install(tracer)
        install_tableio_spans(tracer)

    def layer_metrics(self, tracer, jobs):
        out = tableio_metrics(tracer)
        for p in self.parts:
            out.update(p.layer_metrics(tracer, jobs))
        return out


WORKLOADS = {w.name: w for w in (CrawlPolite, ImageCurate)}
