"""Physical-plan quality gates: the optimizations the 100 TB posture relies
on must actually appear in the plans — broadcast joins for small sides,
predicate pushdown into parquet scans, column pruning, and no Python row
processing outside Arrow stages.
"""

import os
import re

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from spiderman_spark.operators import dedup

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def plan_of(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_fk_join_broadcasts_dim_side(spark):
    plan = plan_of(entrymod.q13_join_agg_revenue(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rollup_pushes_filter_and_prunes_columns(spark):
    plan = plan_of(entrymod.q14_lineitem_rollup(spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan or "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]
    # only the needed columns reach the scan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema
    assert "l_quantity" in read_schema


def test_anti_join_is_broadcast(spark):
    plan = plan_of(entrymod.q01_patch_antijoin(spark, SF_DIR))
    assert "LeftAnti, BuildRight" in plan or "BroadcastHashJoin" in plan


def test_status_filter_pushed_to_scan(spark):
    plan = plan_of(entrymod.q06_status_filter(spark, SF_DIR))
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "event_type" in pushed and "value" in pushed


def test_crawl_fetch_join_broadcasts_batch_not_corpus(spark):
    """The per-round eligible batch must be the broadcast side; the corpus
    scan must never shuffle (SURVEY.md J3 / crawl.py scale posture)."""
    from spiderman_spark import corpusgen as cg

    corpus = cg.build_crawl_corpus(spark, cg.UNIT)
    batch = spark.createDataFrame(
        [(0, cg.list_url(cg.UNIT, 1))], "seq long, url string"
    )
    fetched = corpus.join(F.broadcast(batch), "url", "inner")
    plan = plan_of(fetched)
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan  # corpus side not shuffled


def test_dedup_exact_partial_aggregation(spark):
    """exact dedup must do map-side partial aggregation (two HashAggregates
    around one exchange), not shuffle raw rows."""
    plan = plan_of(entrymod.q16_dedup_exact(spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_whole_stage_codegen_covers_relational_queries(spark):
    """AQE wraps plans in AdaptiveSparkPlan before execution, hiding codegen
    markers — disable it briefly to assert the rollup compiles into
    whole-stage-codegen'd stages."""
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = plan_of(entrymod.q14_lineitem_rollup(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "codegen id" in plan  # Spark 4 formatted-mode codegen marker


def _plan_blocks(plan: str) -> list[str]:
    """Split a formatted plan's detail section into per-node blocks."""
    blocks, cur = [], []
    for line in plan.splitlines():
        if line.startswith("(") and ") " in line:
            if cur:
                blocks.append("\n".join(cur))
            cur = [line]
        elif cur:
            cur.append(line)
    if cur:
        blocks.append("\n".join(cur))
    return blocks


def _exchange_blocks(plan: str) -> list[str]:
    """The blocks of a formatted plan that are Exchanges (shuffle or
    broadcast)."""
    return [
        b for b in _plan_blocks(plan)
        if b.split("\n", 1)[0].rstrip().endswith("Exchange")
    ]


def test_embedding_lsh_band_exchanges_are_narrow(spark):
    """Round-4 verdict #2: the embedding-LSH banded self-join must exchange
    only (id, sketch-long) rows — no Exchange of the band-keyed rows (those
    carrying the ``_bx``/``_by`` band column ``dedup.minband_pair_union``
    explodes) may carry an embedding vector column.  At production dims a
    vector-carrying band exchange multiplies the dominant shuffle's bytes by
    ~bands×."""
    from spiderman_spark.operators import similarity

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    lazy = similarity.embedding_neardup_lsh(
        emb, dim=dim, threshold=0.35, materialize=False
    )
    inputs = [
        next(l for l in b.splitlines() if l.startswith("Input"))
        for b in _exchange_blocks(plan_of(lazy))
    ]
    band_inputs = [l for l in inputs if re.search(r"\b_b[xy]#", l)]
    assert band_inputs, "expected band-keyed exchanges in the lazy plan"
    for line in band_inputs:
        assert "va" not in line and "vb" not in line and "vec" not in line, line


def test_minhash_lsh_plan_has_one_band_join(spark):
    """The banded candidates are ONE equi-join keyed by (band, bucket), not
    one join per band: at small inputs every join is its own stage job."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    lazy = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=1, k=32, bands=8, threshold=0.6,
        materialize=False,
    )
    joins = [
        b for b in _plan_blocks(plan_of(lazy)) if "Join" in b.split("\n", 1)[0]
    ]
    band_joins = [
        b for b in joins
        if any(l.startswith("Left keys") and "_bx" in l for l in b.splitlines())
    ]
    assert len(band_joins) == 1, band_joins
    assert len(joins) == 3, joins  # the band join and the two verify joins


def test_embedding_verify_broadcast_gate_is_bytes_aware(spark):
    """A row-count-only gate would force a multi-GB broadcast at production
    embedding dims; the verify-join gate must also bound estimated bytes."""
    from spiderman_spark.operators.similarity import _verify_broadcast_ok

    mb256 = 256 << 20
    assert _verify_broadcast_ok(10_000, 64, 2_000_000, mb256)
    # 1M rows x 4096 dims: under the row cap, ~32 GB estimated -> refused
    assert not _verify_broadcast_ok(1_000_000, 4096, 2_000_000, mb256)
    # same rows at small dim: fine
    assert _verify_broadcast_ok(400_000, 64, 2_000_000, mb256)
    # over the row cap always refused; unknown count (lazy mode) refused
    assert not _verify_broadcast_ok(3_000_000, 8, 2_000_000, mb256)
    assert not _verify_broadcast_ok(None, 8, 2_000_000, mb256)
