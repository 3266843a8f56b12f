"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the correctness baseline.  Query
  side is broadcast (small), corpus side streams: one scan, no shuffle of the
  big table; per-row cosine via zip_with/aggregate (JVM, codegen'd).
- ``lsh_topk``: random-hyperplane LSH bucketing as the scale path: sign-bit
  sketch from deterministic pseudo-random projections (xxhash64-derived, no
  RNG state), candidates = same-bucket rows (multi-probe over bands), exact
  re-rank on candidates only.  Recall is tested against cosine_topk.
- ``ivf_topk``: inverted-file ANN — corpus rows are assigned once to their
  nearest centroid (one broadcast join against the tiny centroid set, no
  corpus shuffle), each query probes its ``nprobe`` nearest lists, and only
  rows in probed lists are exactly re-ranked.  Centroids come either from
  ``anchor_centroids`` (deterministic md5 anchors — the oracle-able variant)
  or ``ivf_train`` (DataFrame-native Lloyd's k-means — the production path,
  recall-tested against cosine_topk).
"""

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def _cosine_pre(a, b, na, nb):
    """Cosine from per-ROW precomputed norms: the higher-order-function
    norm folds are interpreted (not codegen'd), so evaluating them inside a
    per-PAIR projection costs two extra dim-wide passes per pair — O(pairs ×
    dim) where O(rows × dim) suffices.  Same expression shape as ``cosine``
    (dot / (na * nb)) over the same per-side norm folds, so the double is
    bit-identical — the rounded sim_x10k oracles stay exact."""
    return _dot(a, b) / (na * nb)


def _lit_dvec(vals) -> "F.Column":
    """Literal array<double> in ONE parsed expression — ``F.array(*[F.lit(v)
    ...])`` issues one py4j round trip per element, and the hyperplane/
    centroid inlining sites evaluate planes×dim (resp. k×dim) of them per
    plan build: ~1000 driver round trips ≈ 0.3-0.5 s of pure plan-assembly
    time per sketch site (the same hotspot ``with_hist_rank`` fixed for the
    crawl loop).  Bit-identical to the ``F.lit`` form, non-finite values
    included — see ``functions.sqllit`` (the shared injection helpers)."""
    from ..functions.sqllit import lit_double_array

    return lit_double_array(vals)


def _pynorm(vec) -> float:
    """Driver-side L2 norm of a literal vector, IEEE-identical to ``_norm``
    over the same literals: left-to-right (0.0 + x₀²) + x₁² … then sqrt —
    the same fold order and double ops Spark's aggregate evaluates — so a
    centroid/hyperplane norm can be inlined as ONE literal instead of an
    interpreted dim-wide fold re-evaluated per row per centroid."""
    import math

    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, sim_x10k, rk).

    Similarity scaled to integer 1e-4 units and tie-broken by neighbor id so
    results are deterministic across engines/float orders.
    """
    from pyspark.sql import Window

    # norms land in the per-SIDE projections below the join (the join
    # boundary keeps Catalyst from collapsing them into the per-pair
    # projection): one norm fold per row, not one per scored pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(_cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")) * 10000)
        .cast("long")
        .alias("sim_x10k"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim_x10k").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim_x10k", "rk")
    )


def embedding_neardup_exact(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, exact all-pairs baseline:
    (id_a, id_b, sim_x10k) with id_a < id_b and rounded sim >= threshold.

    O(n²) — the correctness oracle for the LSH variant below; at corpus scale
    use ``embedding_neardup_lsh``.  Threshold compares the *rounded* integer
    similarity so engines agree at the boundary.
    """
    a = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        _norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        _norm(F.col(vec_col)).alias("nb"),
    )
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                _cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")) * 10000
            )
            .cast("long")
            .alias("sim_x10k"),
        )
        .where(F.col("sim_x10k") >= int(round(threshold * 10000)))
    )


# default byte bound of the verify joins' broadcast sides
VERIFY_BROADCAST_MAX_BYTES = 256 << 20


def _verify_broadcast_ok(
    n_rows: int | None, dim: int, max_rows: int, max_bytes: int
) -> bool:
    """Bytes-aware broadcast gate for vector-carrying verify joins: a
    row-count-only threshold is wrong when each row carries a dim-wide
    embedding — 1M rows pass a 2M-row gate but weigh ~16 GB at dim=4096,
    past Spark's 8 GB broadcast hard limit (and the driver's memory).
    Estimate 8 B/coordinate (worst-case double) + 64 B row overhead."""
    return (
        n_rows is not None
        and n_rows <= max_rows
        and n_rows * (dim * 8 + 64) <= max_bytes
    )


def embedding_neardup_lsh(
    df: DataFrame,
    dim: int,
    threshold: float = 0.95,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int | None = 8192,
    oversize_policy: str = "salt",
    materialize: bool = True,
    broadcast_max_rows: int = 2_000_000,
    broadcast_max_bytes: int = VERIFY_BROADCAST_MAX_BYTES,
) -> DataFrame:
    """Scale path for embedding near-dup: random-hyperplane sign sketch →
    one banded bucket self-join (min-band, exactly-once) → exact cosine
    verify on candidates only.

    The banded self-join shuffles a NARROW (id, sketch-long) frame only —
    round-4 verdict #2: an earlier shape carried both embedding vectors
    through every band exchange, multiplying the dominant shuffle's bytes
    by ~bands× at production dims (768-4096 floats).  Vectors are
    joined back onto the (output-proportional) candidate stream for the
    cosine verify, broadcast-adaptively when the doc count fits under
    ``broadcast_max_rows`` AND the estimated broadcast payload —
    rows × (dim × 8 B + row overhead) — fits under ``broadcast_max_bytes``
    (the ``minhash_lsh_pairs`` shape, but bytes-aware: unlike grams, the
    vector width is KNOWN here, and a row-count-only gate would force an
    8 GB+ broadcast at production dims, e.g. 1M × 4096 floats).

    ``materialize=True`` (default): the sketch frame is persisted — the
    banded join's two sides, the hot-bucket counting pass and the verify
    joins would otherwise each recompute the planes×dim projections — and
    the verified pairs are checkpointed so the cache is released before
    returning.  ``materialize=False`` returns the lazy plan
    (guard disabled — its counting pass is an action; no broadcast hint —
    let AQE pick).

    Cost is O(rows × planes) sketching + one join keyed by (band, sketch
    slice), whose groups stay small; the pair stream itself is never shuffled.
    Near-identical vectors agree on nearly all sign bits, so recall at high
    thresholds is excellent (pytest-measured vs the exact baseline).
    ``max_bucket_rows``: hot-bucket guard (``dedup.minband_pair_union``) —
    the default exact 'salt' policy keeps the pair set identical while
    bounding any one bucket's join group (e.g. a mass-duplicated embedding
    collapsing every sketch band onto one key)."""
    bits_per_band = planes // bands
    mask = (1 << bits_per_band) - 1
    sk = df.select(
        F.col(id_col).alias("did"),
        F.col(vec_col).alias("vec"),
        _norm(F.col(vec_col)).alias("_nv"),
        sign_sketch(F.col(vec_col), dim, planes).alias("_sk"),
    )
    n_rows = None
    if materialize:
        sk = sk.persist()
        # one small action: eagerly populates the cache before the banded
        # join's two sides race it, doubles as the guard's free x_rows
        # bound and the verify-join broadcast decision
        n_rows = sk.count()

    def slice_of(col, b):
        return F.shiftright(col, b * bits_per_band).bitwiseAND(F.lit(mask))

    # Min-band candidates (dedup.minband_pair_union) over the NARROW
    # (id, sketch) projection: the minimum-shared-band test needs nothing
    # beyond the two sketch longs, and no band exchange ever carries a
    # vector (plan-asserted in tests/test_plans.py).
    from .dedup import minband_pair_union

    x = sk.select(F.col("did").alias("id_a"), F.col("_sk").alias("ska"))
    y = sk.select(F.col("did").alias("id_b"), F.col("_sk").alias("skb"))
    cand = minband_pair_union(
        x,
        y,
        lambda b: slice_of(F.col("ska"), b),
        lambda b: slice_of(F.col("skb"), b),
        bands,
        max_bucket_rows=max_bucket_rows if materialize else None,
        oversize_policy=oversize_policy,
        salt_col_a="id_a",
        x_rows=n_rows,
    ).select("id_a", "id_b")
    # row norms ride the (persisted) sketch frame — computed once per row at
    # sketch time, not re-folded per candidate pair in the verify projection
    a = sk.select(
        F.col("did").alias("id_a"), F.col("vec").alias("va"), F.col("_nv").alias("na")
    )
    b = sk.select(
        F.col("did").alias("id_b"), F.col("vec").alias("vb"), F.col("_nv").alias("nb")
    )
    if _verify_broadcast_ok(n_rows, dim, broadcast_max_rows, broadcast_max_bytes):
        a, b = F.broadcast(a), F.broadcast(b)
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                _cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")) * 10000
            )
            .cast("long")
            .alias("sim_x10k"),
        )
        .where(F.col("sim_x10k") >= int(round(threshold * 10000)))
    )
    if materialize:
        out = out.localCheckpoint()
        sk.unpersist()
    return out


def _md5_unit_vec(salt: str, dim: int) -> list[float]:
    """Deterministic pseudo-random vector in [-1, 1)^dim from md5 of
    ``salt:coord`` — reproducible on any executor without shipping RNG
    state, and reproducible as literals in the generated DuckDB oracles.
    The ONE place the hash→float derivation lives (hyperplanes and IVF
    anchors must agree with their oracle fixtures bit-for-bit)."""
    import hashlib

    out = []
    for c in range(dim):
        h = int(hashlib.md5(f"{salt}:{c}".encode()).hexdigest()[:8], 16)
        out.append((h / 2**31) - 1.0)  # uniform-ish in [-1, 1)
    return out


def _projection_vec(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from (plane, coord) hashes."""
    return _md5_unit_vec(f"proj:{plane}", dim)


def sign_sketch(vec_col, dim: int, planes: int = 16):
    """Array of ``planes`` sign bits packed into one long."""
    acc = F.lit(0).cast("long")
    for p in range(planes):
        proj = _lit_dvec(_projection_vec(dim, p))
        s = _dot(F.col(vec_col) if isinstance(vec_col, str) else vec_col, proj)
        acc = acc.bitwiseOR(
            F.when(s > 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
        )
    return acc


def anchor_centroids(dim: int, n: int) -> list[tuple[int, list[float]]]:
    """Deterministic pseudo-random centroids (cid, vector) from md5-of-
    (cid, coord) — same no-RNG-state trick as ``_projection_vec`` with a
    distinct salt, so Spark literals and oracle SQL literals agree exactly."""
    return [(cid, _md5_unit_vec(f"ivf:{cid}", dim)) for cid in range(n)]


def _nearest_centroids(df, ident: str, vec: str, centroids, n: int):
    """Keep each row's ``n`` nearest centroids by rounded-integer cosine
    (ties → lower cid — the cross-engine total order).

    ``centroids`` is a driver-side list of (cid, vector): small by
    construction (k lists × dim floats), inlined as literals so the corpus
    scan needs no join — and the per-row ranking is an ``array_sort`` over
    (neg-sim, cid) structs, NOT a window, so assignment is a fully narrow
    codegen'd projection: zero shuffle of the corpus.

    The row's norm is let-bound ONCE per row (the single-element-transform
    trick — projection collapse would otherwise inline the interpreted norm
    fold into every one of the k centroid scores), and each centroid's norm
    is a driver-computed literal (``_pynorm`` — IEEE-identical to the Spark
    fold), so scoring k centroids costs k dots + 1 row-norm fold instead of
    k dots + 2k dim-wide folds.  The output carries the row norm as ``_vn``
    so downstream per-pair re-ranks reuse it."""

    def ranked(nv):
        structs = F.array(
            *[
                F.struct(
                    (
                        -F.round(
                            _cosine_pre(
                                F.col(vec),
                                _lit_dvec(cvec),
                                nv,
                                F.lit(_pynorm(cvec)),
                            )
                            * 10000
                        ).cast("long")
                    ).alias("negsim"),
                    F.lit(cid).alias("cid"),
                )
                for cid, cvec in centroids
            ]
        )
        return F.slice(F.array_sort(structs), 1, n)

    top = F.element_at(F.transform(F.array(_norm(F.col(vec))), ranked), 1)
    return df.select(
        ident, vec, _norm(F.col(vec)).alias("_vn"), F.explode(top).alias("cs")
    ).select(ident, vec, "_vn", F.col("cs.cid").alias("cid"))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Inverted-file ANN top-k: (query_id, neighbor_id, sim_x10k, rk).

    Corpus rows land in exactly ONE list (their nearest centroid); each query
    probes its ``nprobe`` nearest lists; exact cosine re-rank runs on probed
    candidates only.  At scale the corpus is scanned once for assignment
    (centroid literals inlined, no shuffle), and the only shuffled rows are
    the probed candidates — the IVF recipe from Faiss/SPANN re-expressed as
    two narrow DataFrame stages."""
    from pyspark.sql import Window

    c = _nearest_centroids(
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")),
        "neighbor_id",
        "cv",
        centroids,
        1,
    ).withColumnRenamed("_vn", "cn")
    q = _nearest_centroids(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "query_id",
        "qv",
        centroids,
        nprobe,
    ).withColumnRenamed("_vn", "qn")
    # No distinct: corpus rows are assigned to exactly ONE list (n=1 above)
    # and a query probes ``nprobe`` DISTINCT cids, so a (query_id,
    # neighbor_id) pair can arise at most once by construction — a distinct
    # here would shuffle the vector-carrying candidate stream for nothing
    # (uniqueness is pytest-asserted; revisit if assignment ever probes >1).
    cand = (
        c.join(F.broadcast(q), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")) * 10000)
        .cast("long")
        .alias("sim_x10k"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim_x10k").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim_x10k", "rk")
    )


def ivf_train(
    df: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """DataFrame-native Lloyd's k-means for IVF lists (production path).

    Init = the deterministic md5 anchors; each iteration assigns rows to
    their nearest centroid (literals inlined — no join) and recomputes every
    centroid as 64 per-coordinate ``avg`` aggregates in ONE groupBy (one
    shuffle of k×dim partial sums per iteration, map-side combined; no
    explode, no driver data path beyond the k×dim centroid list itself,
    which is small by construction).  Empty lists keep their previous
    centroid.  Returns driver-side [(cid, vector)] for ``ivf_topk``."""
    cents = anchor_centroids(dim, k)
    for _ in range(iters):
        assigned = _nearest_centroids(
            df.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("v")),
            "rid",
            "v",
            cents,
            1,
        )
        rows = (
            assigned.groupBy("cid")
            .agg(*[F.avg(F.col("v")[i]).alias(f"m{i}") for i in range(dim)])
            .collect()
        )
        new = dict(cents)
        for r in rows:
            new[r["cid"]] = [float(r[f"m{i}"]) for i in range(dim)]
        cents = sorted(new.items())
    return cents


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    planes: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket_rows: int | None = 8192,
    oversize_policy: str = "salt",
    materialize: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share at least one LSH band with the query,
    exact cosine re-rank on candidates only.  Bands = ``bands`` slices of the
    ``planes``-bit sign sketch.  ``max_bucket_rows``: hot-bucket guard over
    the CORPUS side's band groups (``dedup.minband_pair_union``; exact
    'salt' policy by default).  ``materialize=True``: the corpus sketch is
    persisted across the banded join + counting pass and released after
    the (k-per-query, tiny) result checkpoints; False returns the lazy plan
    with the guard disabled."""
    from pyspark.sql import Window

    bits_per_band = planes // bands
    mask = (1 << bits_per_band) - 1

    def slice_of(col, b):
        return F.shiftright(col, b * bits_per_band).bitwiseAND(F.lit(mask))

    # Min-band candidates (dedup.minband_pair_union): each (query, neighbor)
    # pair is emitted once at its first shared band, so no cross-band
    # distinct of the vector-carrying candidate stream; the corpus side is
    # never shuffled (the banded join broadcasts the query side).
    from .dedup import minband_pair_union

    # per-row norms ride the sketch frames (corpus side persisted), so the
    # per-candidate re-rank below folds only the dot — not two more
    # interpreted dim-wide norm passes per pair
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qn"),
        sign_sketch(F.col(vec_col), dim, planes).alias("skq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("cn"),
        sign_sketch(F.col(vec_col), dim, planes).alias("skc"),
    )
    if materialize:
        c = c.persist()
    cand = minband_pair_union(
        c,
        F.broadcast(q),
        lambda b: slice_of(F.col("skc"), b),
        lambda b: slice_of(F.col("skq"), b),
        bands,
        pair_predicate=F.col("query_id") != F.col("neighbor_id"),
        max_bucket_rows=max_bucket_rows if materialize else None,
        oversize_policy=oversize_policy,
        salt_col_a="neighbor_id",
    ).select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
    scored = cand.select(
        "query_id",
        "neighbor_id",
        F.round(_cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")) * 10000)
        .cast("long")
        .alias("sim_x10k"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim_x10k").desc(), F.col("neighbor_id"))
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim_x10k", "rk")
    )
    if materialize:
        out = out.localCheckpoint()
        c.unpersist()
    return out
