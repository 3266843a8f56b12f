"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names (keyed to SURVEY.md §2) to DataFrame
builders over the driver testdata; ``oracle_sql()`` holds the DuckDB-dialect
equivalents the driver cross-checks at sf=0.01.

Cross-engine determinism rules used throughout (names must also match):
- float aggregates are scaled to integers (cents / basis points / 1e-4 units);
- Spark ``cast(double as long)`` truncates while DuckDB CAST rounds, so every
  oracle uses ``CAST(FLOOR(x) AS BIGINT)`` where Spark casts;
- DuckDB SUM(int) yields HUGEINT → oracles cast to BIGINT explicitly;
- every ranking has a total-order tie-break.
"""

from __future__ import annotations

import os
import sys
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spiderman_spark.operators import dedup, multimodal, similarity, textstats  # noqa: E402


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: patch-style anti-join + revenue rollup (SURVEY.md J1+A1)."""
    sf_dir = "/root/testdata/sf0.001"
    return q13_join_agg_revenue(spark, sf_dir)


# --------------------------------------------------------------------------
# relational operators (crawl-engine analogs over the TPC-H-ish tables)
# --------------------------------------------------------------------------

def q01_patch_antijoin(spark, sf_dir):
    """J1: rows in the left table with no match — the patch-crawl idiom
    (`SP_JOBS/zhifang_job_patch.py:53-76`)."""
    customer, orders = _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_mktsegment")
    )


def q02_groupby_distinct(spark, sf_dir):
    """A1: GROUP BY with count + count distinct (`zhifang_job_patch.py:30-37`)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_custs"),
    )


def q03_except_missing(spark, sf_dir):
    """A2: set difference — pages never crawled (`zhifang_job_patch.py:38`)."""
    orders = _t(spark, sf_dir, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_orderkey").alias("k")
    )
    return spark.range(1, 2001).select(F.col("id").alias("k")).join(
        urgent, "k", "left_anti"
    )


def q04_md5_rowkeys(spark, sf_dir):
    """D3/D4/F3: md5 pkey + deterministic keyid (`SP/utils/base.py:38-46`)."""
    orders = _t(spark, sf_dir, "orders")
    pkey = F.upper(F.md5(F.col("o_orderkey").cast("string")))
    return orders.select(
        "o_orderkey",
        pkey.alias("pkey"),
        F.concat(F.lit("20240101_"), F.md5(F.concat(F.lit("zhifang|"), F.col("o_orderkey").cast("string")))).alias("keyid"),
    )


def q05_value_cleanse(spark, sf_dir):
    """P2/F1: strip control chars + trim (`SP/pipelines/pipelines_clean.py:14-29`)."""
    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        F.trim(F.translate(F.col("c_name"), "# \n\t\r", "")).alias("clean_name"),
    )


def q06_status_filter(spark, sf_dir):
    """P4/P6: status-set + threshold predicate (`download.py:56`)."""
    events = _t(spark, sf_dir, "events")
    return events.where(
        F.col("event_type").isin("error", "purchase") & (F.col("value") >= 50.0)
    ).select("event_id", "event_type", "user_id")


def q07_politeness_topk(spark, sf_dir):
    """T3: per-key budget = first B rows per partition in deterministic order."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "rk")
    )


def q08_fifo_rank(spark, sf_dir):
    """O1: global FIFO rank — frontier ordering discipline."""
    events = _t(spark, sf_dir, "events")
    w = Window.orderBy("ts", "event_id")
    return (
        events.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 100)
        .select("rank", "event_id", "event_type")
    )


def q09_file_type(spark, sf_dir):
    """F6: extension sniffing with ?/& suffix stripping (`SP/utils/tool.py:88-113`)."""
    part = _t(spark, sf_dir, "part")
    url = F.concat(
        F.lit("http://img.test/f"),
        F.col("p_partkey").cast("string"),
        F.when(F.col("p_size") % 3 == 0, F.lit(".png"))
        .when(F.col("p_size") % 3 == 1, F.lit(".jpg?x=1"))
        .otherwise(F.lit(".gif&y=2")),
    )
    ext = F.lower(F.regexp_extract(url, r"\.([A-Za-z0-9]+)(?:[?&].*)?$", 1))
    return part.select(
        F.col("p_partkey"),
        url.alias("file_url"),
        F.when(ext.isin("png", "jpg", "gif", "jpeg", "bmp"), ext)
        .otherwise(F.lit("other"))
        .alias("file_type"),
    )


def q10_time_format(spark, sf_dir):
    """F5: epoch/timestamp → formatted string (`SP/utils/tool.py:76-85`)."""
    events = _t(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH").alias("ts_hour"),
        F.date_format("ts", "yyyyMMdd").alias("bizdate"),
    )


def q11_regex_extract_price(spark, sf_dir):
    """P7/F14: regexp_extract + cast + threshold (`kafka_mon.py:25-29`)."""
    events = _t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), r'"k": (\d+)', 1).cast("int")
    return events.select("event_id", k.alias("k_val")).where(F.col("k_val") < 30)


def q12_dirty_url_filter(spark, sf_dir):
    """P3/F7: substring-blacklist URL filter (`SP/utils/tool.py:116-134`)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.where(~F.col("source").rlike("src1[0-9]$")).select("doc_id", "source")


def q13_join_agg_revenue(spark, sf_dir):
    """J2-style FK equi-join + aggregate; dim side broadcast."""
    orders, customer = _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice") * 100)).cast("long").alias("revenue_cents"),
        )
    )


def q14_lineitem_rollup(spark, sf_dir):
    """A1 at scale: TPC-H Q1-shaped rollup, partial aggregation map-side."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") < "1996-01-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity")).cast("long").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)).cast("long").alias("revenue_cents"),
            F.count("*").alias("n_rows"),
        )
    )


def q15_topk_orders(spark, sf_dir):
    """Top-k with total-order tie-break (absent in reference; engine addition)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 10)
        .select("rk", "o_orderkey", F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"))
    )


# --------------------------------------------------------------------------
# training-data pipeline operators (documents / embeddings)
# --------------------------------------------------------------------------

def q16_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.exact_dedup_keys(docs, "doc_id", "text")


def q17_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.6)


def q18_minhash_lsh(spark, sf_dir):
    """MinHash+LSH near-dup pairs.  md5-hex hash family → the full pipeline
    (shingle → 32-perm signature → 8-band buckets → candidate join → exact
    Jaccard verify) has an equivalent DuckDB oracle; recall vs exact Jaccard
    is additionally pytest-verified."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(docs, "doc_id", "text", n=1, k=32, bands=8, threshold=0.6)


def q34_minhash_lsh_fast(spark, sf_dir):
    """MinHash+LSH, xxhash64 fast family — the production/bench path (ONE
    JVM string hash per gram + k cheap 8-byte seed-chained rehashes, folded
    in a single pass, instead of md5 hex per gram-permutation).  Same pipeline as
    q18; the oracle joins the per-gram hash fixture materialized by the
    independent pure-Python xxh64 (spiderman_spark/oraclegen.py), then
    banding + verify in SQL."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=1, k=32, bands=8, threshold=0.6,
        hash_family="xxhash64",
    )


def q37_neardup_components(spark, sf_dir):
    """Cluster resolution over the q18 near-dup pairs: connected components
    (a driver union-find at this size) → (did, rep), rep = the canonical
    (minimum) doc id of each near-dup cluster.  Oracled by a DuckDB recursive CTE over the
    identical q18 pair SQL."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=1, k=32, bands=8, threshold=0.6
    )
    return dedup.neardup_components(pairs)


def q19_simhash(spark, sf_dir):
    """64-bit SimHash (md5 bit family, hex output → DuckDB-oracled; the
    xxhash64 `dedup.simhash` fast path is property-tested in pytest)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.simhash_hex(docs, "doc_id", "text")


def q20_token_count(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.token_count(F.col("text")).cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
    )


def q21_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", textstats.lang_id(F.col("text")).alias("lang_guess"))


def q22_quality_score(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    comps = textstats.quality_score_components(F.col("text"))
    return docs.select("doc_id", *[c.alias(k) for k, c in comps.items()])


def q23_doc_fingerprint(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", textstats.fingerprint(F.col("text")).alias("fp"))


def q36_winnow_fingerprint(spark, sf_dir):
    """MOSS-style winnowing: rolling character-8-gram md5 hashes, window-of-4
    minima, distinct per doc — the rolling-hash fingerprint family the q23
    whole-document md5 only approximates.  Fully DuckDB-oracled (identical
    substring/md5/min expressions)."""
    docs = _t(spark, sf_dir, "documents")
    return textstats.winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)


def q38_phash_neardup(spark, sf_dir):
    """Image near-dup pairs by perceptual-hash banding over the simulator-
    derived q28 image fixture (input_hint phash column): band slices →
    candidates → exact bit_count(xor) verify.  Lossless for hamming <
    bands by pigeonhole; DuckDB-oracled with identical bitwise semantics
    (arithmetic shift + mask, two's-complement bit_count)."""
    from spiderman_spark import oraclegen

    fix = oraclegen.ensure_fixtures()
    images = spark.read.parquet(os.path.join(fix, "q28_images.parquet"))
    return multimodal.phash_neardup_pairs(images, max_hamming=3)


def q40_image_dedup_canonical(spark, sf_dir):
    """End-to-end image dedup pipeline (the LAION-style curation step the
    operators compose into): phash band candidates → exact hamming verify →
    connected components → one canonical representative per cluster, with
    singletons kept as their own representative.  Output: (rep, cluster_size)
    — rep is the minimum image_id of its cluster.  Oracled by q38's pair SQL
    feeding q37's recursive-CTE component resolution in DuckDB."""
    from spiderman_spark import oraclegen

    fix = oraclegen.ensure_fixtures()
    images = spark.read.parquet(os.path.join(fix, "q28_images.parquet"))
    pairs = multimodal.phash_neardup_pairs(images, max_hamming=3)
    comp = dedup.neardup_components(pairs)
    labeled = (
        images.select("image_id")
        .join(comp, images["image_id"] == comp["did"], "left")
        .select(
            "image_id", F.coalesce(F.col("rep"), F.col("image_id")).alias("rep")
        )
    )
    return labeled.groupBy("rep").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )


def q41_windowed_event_counts(spark, sf_dir):
    """Event-time tumbling-window aggregation (the brief's watermark +
    windowed-agg pattern): 10-minute epoch-aligned windows per event_type
    over the events table.  The SAME function runs streaming with a
    watermark (batch-vs-file-stream equality is pytest-asserted in
    tests/test_streaming_stateful.py); the batch path here is directly
    DuckDB-oracled via epoch arithmetic."""
    from spiderman_spark.streaming import stateful

    return stateful.windowed_event_counts(_t(spark, sf_dir, "events"))


def q39_bpe_token_count(spark, sf_dir):
    """BPE-ish token counting (the second tokenizer of the brief's 'whitespace
    + a BPE-ish regex' pair): simplified GPT-2 pre-tokenizer regex, identical
    matches under Java regex and DuckDB's RE2 (no lookahead), so the count is
    fully oracled.  Pure Column expr — stays in whole-stage codegen."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        textstats.bpe_token_count(F.col("text")).cast("long").alias("n_bpe_tokens"),
        textstats.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
    )


def q24_ann_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.cosine_topk(emb, queries, k=5)


def q25_ann_lsh_topk(spark, sf_dir):
    """LSH-bucketed ANN (scale path; recall vs q24 pytest-verified; fully
    DuckDB-oracled — deterministic hyperplane constants inlined in SQL)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    return similarity.lsh_topk(emb, queries, dim=64, k=5, planes=16, bands=4)


def q32_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, exact baseline (dedup family)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_exact(emb, threshold=0.35)


def q33_embedding_neardup_lsh(spark, sf_dir):
    """LSH-bucketed near-dup (scale path; recall pytest-verified vs q32;
    fully DuckDB-oracled via inlined hyperplane constants).

    8-bit bands (planes/bands) keep bucket sizes ~n/256 so the candidate set
    stays far below all-pairs — 2-bit bands degenerate to a quadratic join."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.embedding_neardup_lsh(
        emb, dim=64, threshold=0.35, planes=32, bands=4
    )


def q35_ann_ivf_topk(spark, sf_dir):
    """Inverted-file ANN (the second scale path next to q25's LSH): corpus
    assigned once to md5-anchor centroid lists, queries probe the 2 nearest
    lists, exact re-rank on probed candidates only.  Fully DuckDB-oracled —
    the deterministic centroids are inlined as SQL literals.  The trained
    (DataFrame k-means) variant is recall-tested in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    cents = similarity.anchor_centroids(64, 8)
    return similarity.ivf_topk(emb, queries, cents, k=5, nprobe=2)


def q26_embedding_stats(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda a, v: a + v,
        )
    )
    return (
        emb.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("nrm") * 1000).cast("long").alias("sum_norm_x1000"),
        )
    )


# --------------------------------------------------------------------------
# crawl engine end-to-end (rows-only check; bit-exact parity vs the
# scrapy-redis-semantics simulator is enforced in tests/test_crawl_parity.py)
# --------------------------------------------------------------------------

def q27_crawl_order(spark, sf_dir):
    from spiderman_spark import corpusgen as cg
    from spiderman_spark import simulator as sim
    from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine

    spec = cg.UNIT
    corpus = cg.build_crawl_corpus(spark, spec)
    wd = tempfile.mkdtemp(prefix="q27-")
    engine = CrawlEngine(
        spark, corpus, wd,
        CrawlConfig(callbacks={"list": True, "detail": False}, default_budget=16),
    )
    engine.seed(sim.make_seeds(spec))
    engine.run()
    return engine.crawl_order()


def q29_b64_rowkey_audit(spark, sf_dir):
    """F4/D4/P1: base64 + deterministic rowkey + audit projection
    (`SP/utils/tool.py:56-73`, `SP/utils/base.py:43-46`)."""
    from spiderman_spark.functions import scalars as S

    customer = _t(spark, sf_dir, "customer")
    return customer.select(
        "c_custkey",
        S.b64_encode(F.col("c_name")).alias("name_b64"),
        S.b64_decode(S.b64_encode(F.col("c_name"))).alias("name_rt"),
        S.rowkey("20240101", F.col("c_custkey").cast("string"), F.col("c_name")).alias("keyid"),
    )


def q30_file_type_full(spark, sf_dir):
    """F6: full whitelist extension sniff over synthetic urls
    (`SP/utils/tool.py:88-113`)."""
    from spiderman_spark.functions import scalars as S

    part = _t(spark, sf_dir, "part")
    url = F.concat(
        F.lit("http://f.test/"),
        F.col("p_partkey").cast("string"),
        F.element_at(
            F.array(
                F.lit(".pdf"), F.lit(".mp4?x=1"), F.lit(".tar.gz"),
                F.lit(".docx&dl=1"), F.lit(".unknown"), F.lit(".JPG"),
            ),
            (F.pmod(F.col("p_partkey"), F.lit(6)) + 1).cast("int"),
        ),
    )
    return part.select(
        "p_partkey", url.alias("file_url"), S.file_type(url).alias("file_type")
    )


def q31_dirty_url_blacklist(spark, sf_dir):
    """F7/P3: substring-blacklist URL check over synthetic urls
    (`SP/utils/tool.py:116-134`)."""
    from spiderman_spark.functions import scalars as S

    orders = _t(spark, sf_dir, "orders")
    url = F.concat(
        F.element_at(
            F.array(
                F.lit("http://ok.test/"), F.lit("http://baidu.com/"),
                F.lit("javascript:"), F.lit("mailto:a@qq.com/"),
            ),
            (F.pmod(F.col("o_orderkey"), F.lit(4)) + 1).cast("int"),
        ),
        F.col("o_orderkey").cast("string"),
    )
    return orders.select(
        "o_orderkey", url.alias("url"), S.url_ok(url).alias("usable")
    )


def q28_image_download(spark, sf_dir):
    """S5/J4/P8 + input_hint invariants: crawl → file meta → image download
    with decode/phash verification (rows-only; PSNR/caption asserts live in
    tests/test_download.py where ground truth is available)."""
    from spiderman_spark import corpusgen as cg
    from spiderman_spark import simulator as sim
    from spiderman_spark.plans.crawl import CrawlConfig, CrawlEngine
    from spiderman_spark.plans.download import DownloadConfig, ImageDownloader

    spec = cg.UNIT
    corpus = cg.build_crawl_corpus(spark, spec)
    wd = tempfile.mkdtemp(prefix="q28-")
    engine = CrawlEngine(
        spark, corpus, wd,
        CrawlConfig(callbacks={"list": True, "detail": False}, default_budget=16),
    )
    engine.seed(sim.make_seeds(spec))
    engine.run()
    dl = ImageDownloader(
        spark, corpus, cg.build_image_corpus(spark, spec), wd,
        DownloadConfig(default_budget=16),
    )
    dl.make_job(engine.items("zhifang_file"))
    dl.run()
    return dl.images().select("image_id", "w", "h", "fmt", "phash", "verified")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q01_patch_antijoin": q01_patch_antijoin,
        "q02_groupby_distinct": q02_groupby_distinct,
        "q03_except_missing": q03_except_missing,
        "q04_md5_rowkeys": q04_md5_rowkeys,
        "q05_value_cleanse": q05_value_cleanse,
        "q06_status_filter": q06_status_filter,
        "q07_politeness_topk": q07_politeness_topk,
        "q08_fifo_rank": q08_fifo_rank,
        "q09_file_type": q09_file_type,
        "q10_time_format": q10_time_format,
        "q11_regex_extract_price": q11_regex_extract_price,
        "q12_dirty_url_filter": q12_dirty_url_filter,
        "q13_join_agg_revenue": q13_join_agg_revenue,
        "q14_lineitem_rollup": q14_lineitem_rollup,
        "q15_topk_orders": q15_topk_orders,
        "q16_dedup_exact": q16_dedup_exact,
        "q17_ngram_jaccard": q17_ngram_jaccard,
        "q18_minhash_lsh": q18_minhash_lsh,
        "q19_simhash": q19_simhash,
        "q20_token_count": q20_token_count,
        "q21_lang_id": q21_lang_id,
        "q22_quality_score": q22_quality_score,
        "q23_doc_fingerprint": q23_doc_fingerprint,
        "q24_ann_cosine_topk": q24_ann_cosine_topk,
        "q25_ann_lsh_topk": q25_ann_lsh_topk,
        "q26_embedding_stats": q26_embedding_stats,
        "q27_crawl_order": q27_crawl_order,
        "q28_image_download": q28_image_download,
        "q29_b64_rowkey_audit": q29_b64_rowkey_audit,
        "q30_file_type_full": q30_file_type_full,
        "q31_dirty_url_blacklist": q31_dirty_url_blacklist,
        "q32_embedding_neardup": q32_embedding_neardup,
        "q33_embedding_neardup_lsh": q33_embedding_neardup_lsh,
        "q34_minhash_lsh_fast": q34_minhash_lsh_fast,
        "q35_ann_ivf_topk": q35_ann_ivf_topk,
        "q36_winnow_fingerprint": q36_winnow_fingerprint,
        "q37_neardup_components": q37_neardup_components,
        "q38_phash_neardup": q38_phash_neardup,
        "q39_bpe_token_count": q39_bpe_token_count,
        "q40_image_dedup_canonical": q40_image_dedup_canonical,
        "q41_windowed_event_counts": q41_windowed_event_counts,
    }


def oracle_sql() -> dict[str, str]:
    sql = {
        "q01_patch_antijoin": (
            "SELECT c_custkey, c_mktsegment FROM customer c "
            "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"
        ),
        "q02_groupby_distinct": (
            "SELECT o_orderpriority, count(*) AS n_orders,"
            " count(DISTINCT o_custkey) AS n_custs FROM orders GROUP BY o_orderpriority"
        ),
        "q03_except_missing": (
            "SELECT range AS k FROM range(1, 2001) "
            "EXCEPT SELECT o_orderkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'"
        ),
        "q04_md5_rowkeys": (
            "SELECT o_orderkey, upper(md5(CAST(o_orderkey AS VARCHAR))) AS pkey,"
            " concat('20240101_', md5(concat('zhifang|', CAST(o_orderkey AS VARCHAR)))) AS keyid"
            " FROM orders"
        ),
        "q05_value_cleanse": (
            "SELECT c_custkey, trim(translate(c_name, '#' || chr(1) || chr(160) || chr(10) || chr(9) || chr(13), '')) AS clean_name FROM customer"
        ),
        "q06_status_filter": (
            "SELECT event_id, event_type, user_id FROM events "
            "WHERE event_type IN ('error','purchase') AND value >= 50.0"
        ),
        "q07_politeness_topk": (
            "SELECT o_custkey, o_orderkey, rk FROM (SELECT o_custkey, o_orderkey,"
            " row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rk"
            " FROM orders) WHERE rk <= 3"
        ),
        "q08_fifo_rank": (
            "SELECT rank, event_id, event_type FROM (SELECT event_id, event_type,"
            " row_number() OVER (ORDER BY ts, event_id) AS rank FROM events) WHERE rank <= 100"
        ),
        "q09_file_type": (
            "WITH u AS (SELECT p_partkey, concat('http://img.test/f', CAST(p_partkey AS VARCHAR),"
            " CASE WHEN p_size % 3 = 0 THEN '.png' WHEN p_size % 3 = 1 THEN '.jpg?x=1' ELSE '.gif&y=2' END) AS file_url FROM part)"
            " SELECT p_partkey, file_url,"
            " CASE WHEN lower(regexp_extract(file_url, '\\.([A-Za-z0-9]+)(?:[?&].*)?$', 1))"
            "   IN ('png','jpg','gif','jpeg','bmp')"
            "  THEN lower(regexp_extract(file_url, '\\.([A-Za-z0-9]+)(?:[?&].*)?$', 1)) ELSE 'other' END AS file_type FROM u"
        ),
        "q10_time_format": (
            "SELECT event_id, strftime(ts, '%Y-%m-%d %H') AS ts_hour,"
            " strftime(ts, '%Y%m%d') AS bizdate FROM events"
        ),
        "q11_regex_extract_price": (
            "SELECT event_id, CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INT) AS k_val"
            " FROM events WHERE CAST(regexp_extract(props, '\"k\": (\\d+)', 1) AS INT) < 30"
        ),
        "q12_dirty_url_filter": (
            "SELECT doc_id, source FROM documents WHERE NOT regexp_matches(source, 'src1[0-9]$')"
        ),
        "q13_join_agg_revenue": (
            "SELECT c_mktsegment, count(*) AS n_orders,"
            " CAST(round(sum(o_totalprice * 100)) AS BIGINT) AS revenue_cents"
            " FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment"
        ),
        "q14_lineitem_rollup": (
            "SELECT l_returnflag, l_linestatus, CAST(round(sum(l_quantity)) AS BIGINT) AS sum_qty,"
            " CAST(round(sum(l_extendedprice * (1 - l_discount) * 100)) AS BIGINT) AS revenue_cents,"
            " count(*) AS n_rows FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'"
            " GROUP BY l_returnflag, l_linestatus"
        ),
        "q15_topk_orders": (
            "SELECT rk, o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents"
            " FROM (SELECT o_orderkey, o_totalprice,"
            " row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)"
            " WHERE rk <= 10"
        ),
        "q16_dedup_exact": (
            "SELECT md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS text_hash,"
            " min(doc_id) AS keeper_id, count(*) AS n_dups FROM documents"
            " GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
        ),
        "q17_ngram_jaccard": (
            "WITH sh AS (SELECT doc_id AS did, list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS grams FROM documents),"
            " sz AS (SELECT did, len(grams) AS sz FROM sh),"
            " inv AS (SELECT did, unnest(grams) AS g FROM sh),"
            " pairs AS (SELECT x.did AS id_a, y.did AS id_b, count(*) AS common"
            "   FROM inv x JOIN inv y ON x.g = y.g AND x.did < y.did GROUP BY x.did, y.did)"
            " SELECT id_a, id_b, CAST(common AS BIGINT) AS common, CAST(a.sz AS BIGINT) AS size_a, CAST(b.sz AS BIGINT) AS size_b,"
            " CAST(FLOOR(common * 10000.0 / (a.sz + b.sz - common)) AS BIGINT) AS jaccard_bp"
            " FROM pairs JOIN sz a ON id_a = a.did JOIN sz b ON id_b = b.did"
            " WHERE FLOOR(common * 10000.0 / (a.sz + b.sz - common)) >= 6000"
        ),
        "q20_token_count": (
            "SELECT doc_id, CAST(CASE WHEN len(trim(text)) = 0 THEN 0"
            " ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_tokens,"
            " CAST(length(text) AS BIGINT) AS n_chars_actual FROM documents"
        ),
        "q23_doc_fingerprint": (
            "SELECT doc_id, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM documents"
        ),
        "q41_windowed_event_counts": (
            "SELECT strftime(to_timestamp(CAST(floor(epoch(ts)/600)*600 AS BIGINT)),"
            " '%Y-%m-%d %H:%M:%S') AS window_start,"
            " event_type, CAST(count(*) AS BIGINT) AS n_events,"
            " CAST(round(sum(value)*100) AS BIGINT) AS value_sum_x100"
            " FROM events GROUP BY 1, 2"
        ),
        "q39_bpe_token_count": (
            "SELECT doc_id,"
            " CAST(len(regexp_extract_all(text,"
            " '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+'"
            ")) AS BIGINT) AS n_bpe_tokens,"
            " CAST(CASE WHEN len(trim(text)) = 0 THEN 0"
            " ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS BIGINT) AS n_ws_tokens"
            " FROM documents"
        ),
        "q24_ann_cosine_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),"
            " scored AS (SELECT query_id, e.vec_id AS neighbor_id,"
            "   CAST(round(list_cosine_similarity(qv, e.embedding) * 10000) AS BIGINT) AS sim_x10k"
            "   FROM embeddings e CROSS JOIN q WHERE e.vec_id <> query_id)"
            " SELECT query_id, neighbor_id, sim_x10k, rk FROM (SELECT *,"
            "   row_number() OVER (PARTITION BY query_id ORDER BY sim_x10k DESC, neighbor_id) AS rk"
            "   FROM scored) WHERE rk <= 5"
        ),
        "q26_embedding_stats": (
            "SELECT label, count(*) AS n, CAST(round(sum(sqrt(list_aggregate("
            " list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) * 1000) AS BIGINT)"
            " AS sum_norm_x1000 FROM embeddings GROUP BY label"
        ),
        # q18/q19/q34: hash-family generated oracles below.
        # q21_lang_id, q22_quality_score: oracled below (generated).
        # q25_ann_lsh_topk / q33: sign-sketch LSH oracles generated below —
        # the hyperplanes are deterministic md5-derived constants
        # (similarity._projection_vec), inlined into the SQL as double
        # literals; the dot products are written as explicit left-assoc sums
        # so DuckDB folds doubles in the same order Spark's aggregate() does.
        # q27/q28: oracled below against SIMULATOR-derived parquet fixtures
        # (spiderman_spark/oraclegen.py) — plus bit-exact engine-vs-simulator
        # parity in tests/test_crawl_parity.py.
    }
    from spiderman_spark import oraclegen

    _fix = oraclegen.ensure_fixtures()
    # q38 oracle: phash band near-dup over the q28 fixture.  Arithmetic >>
    # plus & mask and two's-complement bit_count(xor) are bit-identical
    # between DuckDB and Spark for band shifts <= 48 (verified semantics).
    sql["q38_phash_neardup"] = (
        "WITH b(band) AS (VALUES (0),(1),(2),(3)),"
        " s AS (SELECT image_id AS iid, phash AS ph, band,"
        "  (phash >> (band*16)) & 65535 AS slice"
        f"  FROM read_parquet('{_fix}/q28_images.parquet') CROSS JOIN b),"
        " cand AS (SELECT DISTINCT x.iid AS id_a, x.ph AS pa, y.iid AS id_b,"
        "  y.ph AS pb FROM s x JOIN s y USING (band, slice) WHERE x.iid < y.iid)"
        " SELECT id_a, id_b, CAST(bit_count(xor(pa, pb)) AS BIGINT) AS hamming"
        " FROM cand WHERE bit_count(xor(pa, pb)) <= 3"
    )
    sql["q27_crawl_order"] = (
        "SELECT CAST(rank AS BIGINT) AS rank, CAST(round AS INT) AS round,"
        " url, host, CAST(attempt AS INT) AS attempt, ua, cookie"
        f" FROM read_parquet('{_fix}/q27_crawl_order.parquet')"
    )
    sql["q28_image_download"] = (
        "SELECT image_id, CAST(w AS INT) AS w, CAST(h AS INT) AS h, fmt,"
        " CAST(phash AS BIGINT) AS phash, CAST(verified AS BOOLEAN) AS verified"
        f" FROM read_parquet('{_fix}/q28_images.parquet')"
    )
    # generated q18 oracle: same md5-slice minhash family, banding, and
    # truncated-basis-point jaccard as dedup.minhash_lsh_pairs (n=1, k=32,
    # bands=8, threshold 0.6)
    _k, _bands, _rpb, _thr = 32, 8, 4, 6000
    _mh = lambda i: (
        "list_aggregate(list_transform(grams,"
        f" g -> substring(md5('{i}:' || g), 1, 16)), 'min')"
    )
    _sig_cols = ", ".join(f"{_mh(i)} AS s{i}" for i in range(_k))
    _band_rows = " UNION ALL ".join(
        f"SELECT did, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"s{i}" for i in range(b * _rpb, (b + 1) * _rpb))
        + ")) AS bucket FROM sig"
        for b in range(_bands)
    )
    sql["q18_minhash_lsh"] = (
        "WITH sh AS (SELECT doc_id AS did,"
        " list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS grams"
        " FROM documents), shf AS (SELECT * FROM sh WHERE len(grams) > 0),"
        f" sig AS (SELECT did, {_sig_cols} FROM shf),"
        f" band AS ({_band_rows}),"
        " cand AS (SELECT DISTINCT x.did AS id_a, y.did AS id_b FROM band x"
        " JOIN band y ON x.band = y.band AND x.bucket = y.bucket AND x.did < y.did),"
        " v AS (SELECT id_a, id_b, len(list_intersect(a.grams, b.grams)) AS common,"
        " len(a.grams) AS sa, len(b.grams) AS sb FROM cand"
        " JOIN shf a ON id_a = a.did JOIN shf b ON id_b = b.did)"
        " SELECT id_a, id_b,"
        " CAST(FLOOR(common * 10000.0 / (sa + sb - common)) AS BIGINT) AS jaccard_bp"
        f" FROM v WHERE FLOOR(common * 10000.0 / (sa + sb - common)) >= {_thr}"
    )
    # q37 oracle: connected components over the q18 pairs via a recursive
    # CTE (symmetrize edges, expand reachability with UNION dedup, take the
    # min reachable id per vertex) — exact on the bounded-diameter near-dup
    # graph, the same labelling the engine's union-find reaches.
    sql["q37_neardup_components"] = (
        "WITH RECURSIVE p AS (SELECT id_a, id_b FROM"
        f" ({sql['q18_minhash_lsh']}) q),"
        " e AS (SELECT id_a AS a, id_b AS b FROM p"
        "  UNION SELECT id_b, id_a FROM p),"
        " reach(v, r) AS (SELECT a, a FROM e"
        "  UNION SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.v)"
        " SELECT v AS did, min(r) AS rep FROM reach GROUP BY v"
    )
    sql["q40_image_dedup_canonical"] = (
        "WITH RECURSIVE p AS (SELECT id_a, id_b FROM"
        f" ({sql['q38_phash_neardup']}) q),"
        " e AS (SELECT id_a AS a, id_b AS b FROM p"
        "  UNION SELECT id_b, id_a FROM p),"
        " reach(v, r) AS (SELECT a, a FROM e"
        "  UNION SELECT e.b, reach.r FROM e JOIN reach ON e.a = reach.v),"
        " comp AS (SELECT v AS did, min(r) AS rep FROM reach GROUP BY v),"
        " labeled AS (SELECT i.image_id, coalesce(c.rep, i.image_id) AS rep"
        f"  FROM read_parquet('{_fix}/q28_images.parquet') i"
        "  LEFT JOIN comp c ON i.image_id = c.did)"
        " SELECT rep, CAST(count(*) AS BIGINT) AS cluster_size"
        " FROM labeled GROUP BY rep"
    )
    # generated q34 oracle: xxhash64 MinHash family.  DuckDB cannot evaluate
    # xxhash64, so per-(perm, gram) hashes come from a fixture parquet written
    # by the INDEPENDENT pure-Python xxh64 (spiderman_spark/oraclegen.py; the two
    # implementations are cross-checked in tests/test_xxh64.py).  Everything
    # downstream — permutation minima, md5 band buckets over the stringified
    # longs, candidate join, exact Jaccard verify — is computed by DuckDB.
    _sig34 = ", ".join(
        f"min(h) FILTER (WHERE i = {i}) AS s{i}" for i in range(_k)
    )
    _band34 = " UNION ALL ".join(
        f"SELECT did, {b} AS band, md5(concat_ws('|', "
        + ", ".join(f"CAST(s{i} AS VARCHAR)" for i in range(b * _rpb, (b + 1) * _rpb))
        + ")) AS bucket FROM sig"
        for b in range(_bands)
    )
    sql["q34_minhash_lsh_fast"] = (
        "WITH sh AS (SELECT doc_id AS did,"
        " list_distinct(regexp_split_to_array(trim(text), '\\s+')) AS grams"
        " FROM documents), shf AS (SELECT * FROM sh WHERE len(grams) > 0),"
        " inv AS (SELECT did, unnest(grams) AS g FROM shf),"
        " hx AS (SELECT did, i, h FROM inv JOIN"
        f" read_parquet('{_fix}/q34_gram_hashes.parquet') USING (g)),"
        f" sig AS (SELECT did, {_sig34} FROM hx GROUP BY did),"
        f" band AS ({_band34}),"
        " cand AS (SELECT DISTINCT x.did AS id_a, y.did AS id_b FROM band x"
        " JOIN band y ON x.band = y.band AND x.bucket = y.bucket AND x.did < y.did),"
        " v AS (SELECT id_a, id_b, len(list_intersect(a.grams, b.grams)) AS common,"
        " len(a.grams) AS sa, len(b.grams) AS sb FROM cand"
        " JOIN shf a ON id_a = a.did JOIN shf b ON id_b = b.did)"
        " SELECT id_a, id_b,"
        " CAST(FLOOR(common * 10000.0 / (sa + sb - common)) AS BIGINT) AS jaccard_bp"
        f" FROM v WHERE FLOOR(common * 10000.0 / (sa + sb - common)) >= {_thr}"
    )
    # generated q19 oracle: md5-slice nibble bits, ±1 sums, MSB-first hex
    _nib = lambda j: f"(strpos('0123456789abcdef', substring(h, {j + 1}, 1)) - 1)"
    _sums = ", ".join(
        f"sum(CASE WHEN (({_nib(i // 4)} >> {3 - i % 4}) & 1) = 1"
        f" THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    _nibchar = lambda j: (
        "substring('0123456789abcdef', "
        + " + ".join(
            f"(CASE WHEN b{j * 4 + s} > 0 THEN {1 << (3 - s)} ELSE 0 END)"
            for s in range(4)
        )
        + " + 1, 1)"
    )
    _hexconcat = " || ".join(_nibchar(j) for j in range(16))
    sql["q19_simhash"] = (
        "WITH tok AS (SELECT doc_id AS did,"
        " substring(md5(unnest(regexp_split_to_array(trim(text), '\\s+'))), 1, 16) AS h"
        " FROM documents),"
        f" bs AS (SELECT did, {_sums} FROM tok GROUP BY did)"
        f" SELECT did, {_hexconcat} AS simhash_hex FROM bs"
    )
    # generated q25/q33 oracles: random-hyperplane sign sketch.  The
    # projection vectors come from the same pure function the Spark side
    # inlines as literals (md5-of-(plane,coord), no RNG state), so embedding
    # them as SQL double literals is exact; repr() round-trips doubles.
    from spiderman_spark.operators.similarity import _projection_vec

    def _sketch_sql(dim: int, planes: int, vec: str = "embedding") -> str:
        terms = []
        for p in range(planes):
            dot = " + ".join(
                f"(CAST({vec}[{c + 1}] AS DOUBLE) * {v!r})"
                for c, v in enumerate(_projection_vec(dim, p))
            )
            terms.append(
                f"(CASE WHEN ({dot}) > 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
            )
        return " + ".join(terms)

    sql["q25_ann_lsh_topk"] = (
        f"WITH sk AS (SELECT vec_id, embedding, ({_sketch_sql(64, 16)}) AS s"
        " FROM embeddings), b(band) AS (VALUES (0),(1),(2),(3)),"
        " cb AS (SELECT vec_id AS neighbor_id, embedding AS cv, band,"
        "  (s >> (band*4)) & 15 AS bucket FROM sk CROSS JOIN b),"
        " qb AS (SELECT vec_id AS query_id, embedding AS qv, band,"
        "  (s >> (band*4)) & 15 AS bucket FROM sk CROSS JOIN b WHERE vec_id < 5),"
        " cand AS (SELECT DISTINCT query_id, qv, neighbor_id, cv FROM cb"
        "  JOIN qb USING (band, bucket) WHERE query_id <> neighbor_id),"
        " scored AS (SELECT query_id, neighbor_id,"
        "  CAST(round(list_cosine_similarity(qv, cv) * 10000) AS BIGINT) AS sim_x10k"
        "  FROM cand)"
        " SELECT query_id, neighbor_id, sim_x10k, rk FROM (SELECT *,"
        "  row_number() OVER (PARTITION BY query_id ORDER BY sim_x10k DESC, neighbor_id) AS rk"
        "  FROM scored) WHERE rk <= 5"
    )
    # q36 oracle: the winnowing pipeline is the same expression tree in both
    # engines — substring k-grams, md5-hex-slice hashes, window list minima.
    sql["q36_winnow_fingerprint"] = (
        "WITH g AS (SELECT doc_id AS did, text AS t,"
        "  greatest(length(text) - 8 + 1, 0) AS n FROM documents),"
        " h AS (SELECT did, n, list_transform(generate_series(1, n),"
        "  i -> substring(md5(substring(t, i, 8)), 1, 16)) AS hs FROM g),"
        " w AS (SELECT did, CASE WHEN n - 4 + 1 >= 1 THEN"
        "  list_distinct(list_transform(generate_series(1, n - 4 + 1),"
        "  j -> list_min(hs[j : j + 4 - 1]))) ELSE [] END AS fps FROM h)"
        " SELECT did, unnest(fps) AS fp FROM w"
    )
    # generated q35 oracle: IVF over the same deterministic-literal trick —
    # centroid vectors are pure md5 functions of (cid, coord), inlined as a
    # VALUES list; assignment/probe use the identical rounded-integer cosine
    # + lower-cid tie-break total order as the Spark side.
    from spiderman_spark.operators.similarity import anchor_centroids

    _cent_vals = ", ".join(
        f"({cid}, [" + ", ".join(repr(v) for v in cvec) + "])"
        for cid, cvec in anchor_centroids(64, 8)
    )
    _csim = "CAST(round(list_cosine_similarity(e.embedding, c.cv) * 10000) AS BIGINT)"
    sql["q35_ann_ivf_topk"] = (
        f"WITH cent(cid, cv) AS (VALUES {_cent_vals}),"
        " ca AS (SELECT vec_id AS neighbor_id, embedding AS cvv, cid FROM"
        "  (SELECT e.vec_id, e.embedding, c.cid, row_number() OVER"
        f"   (PARTITION BY e.vec_id ORDER BY {_csim} DESC, c.cid) AS crk"
        "   FROM embeddings e CROSS JOIN cent c) WHERE crk = 1),"
        " qa AS (SELECT vec_id AS query_id, embedding AS qv, cid FROM"
        "  (SELECT e.vec_id, e.embedding, c.cid, row_number() OVER"
        f"   (PARTITION BY e.vec_id ORDER BY {_csim} DESC, c.cid) AS crk"
        "   FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5) WHERE crk <= 2),"
        " cand AS (SELECT DISTINCT query_id, qv, neighbor_id, cvv FROM ca"
        "  JOIN qa USING (cid) WHERE query_id <> neighbor_id),"
        " scored AS (SELECT query_id, neighbor_id,"
        "  CAST(round(list_cosine_similarity(qv, cvv) * 10000) AS BIGINT) AS sim_x10k"
        "  FROM cand)"
        " SELECT query_id, neighbor_id, sim_x10k, rk FROM (SELECT *,"
        "  row_number() OVER (PARTITION BY query_id ORDER BY sim_x10k DESC, neighbor_id) AS rk"
        "  FROM scored) WHERE rk <= 5"
    )
    sql["q33_embedding_neardup_lsh"] = (
        f"WITH sk AS (SELECT vec_id, embedding, ({_sketch_sql(64, 32)}) AS s"
        " FROM embeddings), b(band) AS (VALUES (0),(1),(2),(3)),"
        " bb AS (SELECT vec_id AS did, embedding AS vec, band,"
        "  (s >> (band*8)) & 255 AS bucket FROM sk CROSS JOIN b),"
        " cand AS (SELECT DISTINCT x.did AS id_a, x.vec AS va, y.did AS id_b,"
        "  y.vec AS vb FROM bb x JOIN bb y USING (band, bucket) WHERE x.did < y.did)"
        " SELECT id_a, id_b, sim_x10k FROM (SELECT id_a, id_b,"
        "  CAST(round(list_cosine_similarity(va, vb) * 10000) AS BIGINT) AS sim_x10k"
        "  FROM cand) WHERE sim_x10k >= 3500"
    )
    sql["q32_embedding_neardup"] = (
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b,"
        " CAST(round(list_cosine_similarity(a.embedding, b.embedding) * 10000) AS BIGINT) AS sim_x10k"
        " FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id"
        " WHERE CAST(round(list_cosine_similarity(a.embedding, b.embedding) * 10000) AS BIGINT) >= 3500"
    )
    sql["q29_b64_rowkey_audit"] = (
        "SELECT c_custkey, to_base64(encode(c_name)) AS name_b64,"
        " decode(from_base64(to_base64(encode(c_name)))) AS name_rt,"
        " concat('20240101_', md5(concat_ws('|', CAST(c_custkey AS VARCHAR), c_name))) AS keyid"
        " FROM customer"
    )
    from spiderman_spark.functions.scalars import DIRTY_WORDS, FILE_TYPES

    _wl = ", ".join(f"'{t}'" for t in FILE_TYPES)
    sql["q30_file_type_full"] = (
        "WITH u AS (SELECT p_partkey, concat('http://f.test/', CAST(p_partkey AS VARCHAR),"
        " (['.pdf','.mp4?x=1','.tar.gz','.docx&dl=1','.unknown','.JPG'])[(p_partkey % 6) + 1]) AS file_url FROM part),"
        " e AS (SELECT p_partkey, file_url, lower(trim(string_split(string_split("
        "   string_split(file_url, '.')[-1], '&')[1], '?')[1])) AS ext FROM u)"
        f" SELECT p_partkey, file_url, CASE WHEN ext IN ({_wl}) THEN ext ELSE '' END AS file_type FROM e"
    )
    _dirty = " OR ".join(
        "contains(url, '" + w.replace("'", "''") + "')" for w in DIRTY_WORDS
    )
    sql["q31_dirty_url_blacklist"] = (
        "WITH u AS (SELECT o_orderkey, concat((['http://ok.test/','http://baidu.com/',"
        "'javascript:','mailto:a@qq.com/'])[(o_orderkey % 4) + 1],"
        " CAST(o_orderkey AS VARCHAR)) AS url FROM orders)"
        f" SELECT o_orderkey, url, NOT ({_dirty}) AS usable FROM u"
    )
    # generated oracles with the same argmax/arith semantics as the Spark
    # side: hits count LOWERCASED tokens, the per-language score is
    # floor(hits*10000/list_len) (ratio-normalized — list lengths vary), and
    # list_max over {'s','l'} structs is the same (score, lang-code)
    # lexicographic total order Spark's array_max uses
    from spiderman_spark.operators.textstats import LANG_STOPWORDS

    hit = lambda words: (
        "len(list_filter(regexp_split_to_array(trim(text), '\\s+'),"
        f" x -> list_contains({words!r}, lower(x))))"
    )
    score = lambda la, ws: (
        f"CAST(FLOOR({hit(list(ws))} * 10000.0 / {len(ws)}) AS BIGINT)"
    )
    structs = ", ".join(
        f"{{'s': {score(la, ws)}, 'l': '{la}'}}" for la, ws in LANG_STOPWORDS.items()
    )
    sql["q21_lang_id"] = (
        f"SELECT doc_id, lang, CASE WHEN best['s'] > 0 THEN best['l'] ELSE 'und' END AS lang_guess"
        f" FROM (SELECT doc_id, lang, list_max([{structs}]) AS best FROM documents)"
    )
    en_hits = hit(list(LANG_STOPWORDS["en"]))
    ntok = "(CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\\s+')) END)"
    npunct = "(length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))"
    sql["q22_quality_score"] = (
        f"SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,"
        f" CAST({ntok} AS BIGINT) AS n_tokens,"
        f" CAST(FLOOR({npunct} * 10000.0 / greatest(length(text), 1)) AS BIGINT) AS punct_bp,"
        f" CAST(FLOOR({en_hits} * 10000.0 / greatest({ntok}, 1)) AS BIGINT) AS stopword_bp,"
        f" CAST(FLOOR((length(text) - {ntok} + 1) * 100.0 / greatest({ntok}, 1)) AS BIGINT) AS avg_token_len_x100"
        f" FROM documents"
    )
    return sql
