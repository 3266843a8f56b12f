"""Document deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

The reference's dedup is URL-membership (SURVEY.md §2.3); these generalize it
to *content* dedup for training-data curation.  Design notes per operator:

- exact: hash-groupBy on a canonical text hash — one shuffle, map-side partial
  aggregation; scales linearly.
- n-gram Jaccard: exact pairwise similarity via an inverted shingle index
  (explode → self-join on shingle → count per pair).  Quadratic in the worst
  case — the LSH variant is the scale path; this is the ground truth.
- MinHash+LSH: k hash permutations → banded buckets → candidate pairs only
  within buckets, exact-verified.  At 100 TB this is the only affordable
  near-dup pass: cost is O(rows × k) + a shuffle keyed by (band, bucket)
  whose groups are tiny + output-proportional verify.  TWO hash families
  (mirroring the ``simhash``/``simhash_hex`` split):
  * ``hash_family='xxhash64'`` — the production/bench path: one JVM
    xxhash64 per (gram, permutation), ~an order of magnitude cheaper than
    md5-of-string; oracle-checked through a hash FIXTURE materialized by the
    independent pure-Python ``functions.xxh64`` implementation.
  * ``hash_family='md5'`` — first-16-hex-chars-of-md5 permutations
    (lexicographic min over fixed-width hex == numeric min); the identical
    expression runs in DuckDB, so the whole pipeline is directly
    SQL-oracled with no fixture.
- SimHash: 64-bit bit-majority of token hashes (explode → 64 codegen'd
  bit-sums → sign bits) — ``simhash`` uses xxhash64 (fast path,
  property-tested), ``simhash_hex`` the md5 bit family (DuckDB-oracled).
"""

import math

from pyspark.sql import DataFrame, functions as F

from .similarity import VERIFY_BROADCAST_MAX_BYTES, _verify_broadcast_ok
from .textstats import tokens


def exact_dedup_keys(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(text_hash, keeper_id, n_dups): one row per distinct content."""
    h = F.md5(F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " ")))
    return (
        df.select(h.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("keeper_id"), F.count("*").alias("n_dups"))
    )


def word_ngrams(col, n: int = 2):
    """Word n-gram shingles as an array column (JVM higher-order fns).

    zip_with pads the shorter array with null → concat yields null → filtered.
    """
    t = tokens(col)
    if n == 1:
        return F.array_distinct(t)
    shifted = [F.slice(t, i + 1, F.greatest(F.size(t) - i, F.lit(0))) for i in range(n)]
    grams = shifted[0]
    for nxt in shifted[1:]:
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat_ws(" ", a, b))
    # a zipped element built from any null member has fewer separators; drop tails
    grams = F.slice(grams, 1, F.greatest(F.size(t) - (n - 1), F.lit(0)))
    return F.array_distinct(grams)


def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 2, threshold: float = 0.5
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via inverted shingle index.

    Output: (id_a, id_b, common, size_a, size_b, jaccard_bp) with id_a < id_b
    and jaccard >= threshold.  jaccard scaled to integer basis points for
    deterministic cross-engine comparison.
    """
    sh = df.select(
        F.col(id_col).alias("did"), word_ngrams(F.col(text_col), n).alias("grams")
    ).withColumn("sz", F.size("grams"))
    sizes = sh.select("did", "sz")
    inv = sh.select("did", F.explode("grams").alias("g"))
    pairs = (
        inv.alias("x")
        .join(inv.alias("y"), "g")
        .where(F.col("x.did") < F.col("y.did"))
        .groupBy(F.col("x.did").alias("id_a"), F.col("y.did").alias("id_b"))
        .agg(F.count("*").alias("common"))
    )
    out = (
        pairs.join(sizes.withColumnRenamed("did", "id_a").withColumnRenamed("sz", "size_a"), "id_a")
        .join(sizes.withColumnRenamed("did", "id_b").withColumnRenamed("sz", "size_b"), "id_b")
        .withColumn(
            "jaccard_bp",
            (F.col("common") * 10000 / (F.col("size_a") + F.col("size_b") - F.col("common"))).cast("long"),
        )
        .where(F.col("jaccard_bp") >= int(threshold * 10000))
    )
    return out.select("id_a", "id_b", "common", "size_a", "size_b", "jaccard_bp")


def minhash_value(gram_col, i: int, hash_family: str = "md5"):
    """MinHash permutation i of one gram.

    ``md5``: the first 16 hex chars of md5('<i>:' || gram) — lexicographic
    order over fixed-width lowercase hex equals numeric order over the uint64
    it encodes, so ``array_min`` is the permutation minimum, and the
    *identical* expression exists in DuckDB (``substring(md5(...), 1, 16)``).

    ``xxhash64``: signed-long xxhash64(xxhash64(gram), i) — far cheaper in
    the JVM than the md5 family (no cryptographic rounds, no hex string),
    and cheaper than the previous xxhash64('<i>:' || gram) form by a large
    constant: the gram string is hashed ONCE, and each of the k permutations
    is an 8-byte long rehash (seed-chained two-column xxhash64 — a proper
    PRF, so permutation quality is unchanged) instead of k string concats +
    k full string hashes.  Min under the signed total order is an equally
    valid permutation minimum.  DuckDB has no xxhash64, so the oracle for
    this family joins a fixture table of (i, gram, hash) rows produced by
    the independent pure-Python ``functions.xxh64.xxh64_perm``."""
    if hash_family == "xxhash64":
        return F.xxhash64(F.xxhash64(gram_col), F.lit(i))
    return F.substring(F.md5(F.concat(F.lit(f"{i}:"), gram_col)), 1, 16)


LONG_MAX = (1 << 63) - 1


def _sig_expr(k: int, hash_family: str = "md5", prehashed: bool = False):
    if hash_family == "xxhash64":
        # SINGLE pass over the gram array (higher-order functions are
        # interpreted, not codegen'd — the k-transforms shape below walks
        # the array k times AND re-hashes the gram string each walk).  Per
        # gram: one string hash, bound via a single-element transform (the
        # Column API has no let), then k cheap 8-byte rehashes; per-
        # permutation minima fold through zip_with(least).  Identical
        # values to minhash_value(g, i, 'xxhash64') — fixture-oracled.
        # ``prehashed``: grams is already array<long> of xxhash64(gram)
        # (the minhash_lsh_pairs fast path hashes shingles once in the
        # shingle pass) — the fold rehashes each 8-byte value directly, no
        # let-binding needed; values identical to the string path.
        def per_gram_hash(h):
            return F.array(*[F.xxhash64(h, F.lit(i)) for i in range(k)])

        def per_gram(g):
            return F.element_at(
                F.transform(F.array(F.xxhash64(g)), per_gram_hash),
                1,
            )

        return F.aggregate(
            "grams",
            F.array_repeat(F.lit(LONG_MAX).cast("long"), k),
            lambda acc, g: F.zip_with(
                acc,
                per_gram_hash(g) if prehashed else per_gram(g),
                lambda a, b: F.least(a, b),
            ),
        )

    # md5 family (directly SQL-oracle-able; hex-string minima).
    # NB: close over i via a factory — a `lambda g, i=i:` default-arg would
    # make F.transform see a TWO-arg callable and feed the array index in as
    # the second argument, silently collapsing all k permutations into one
    def perm_min(i: int):
        return F.array_min(
            F.transform("grams", lambda g: minhash_value(g, i, hash_family))
        )

    return F.array(*[perm_min(i) for i in range(k)])


def band_bucket(sig_col_name: str, b: int, rows_per_band: int):
    """Band b's bucket key: md5 over the band's signature slice (fixed-width
    join key instead of a concatenated 16*r-char string).  Elements are cast
    to string so both hash families (hex-string / signed-long signatures)
    produce a DuckDB-reproducible key — per-doc×band cost, negligible next to
    the per-gram×k signature hashing."""
    return F.md5(
        F.concat_ws(
            "|",
            *[
                F.col(sig_col_name)[i].cast("string")
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ],
        )
    )


def _hot_buckets(x: DataFrame, slice_a, bands: int, cap: int, max_hot: int):
    """One counting pass over the x side: per-(band, bucket) row counts,
    returning {band: {bucket_str: count}} for buckets over ``cap``.

    Narrow posexplode of the per-row bucket array → map-side partially
    aggregated count keyed by (band, bucket) → filter > cap, so only the
    (by definition few: ≤ rows/cap per band) oversize keys ever reach the
    driver.  Bucket values are compared as strings so every slice type
    (md5 hex, sketch longs) shares one code path."""
    counted = (
        x.select(
            F.posexplode(
                F.array(*[slice_a(b).cast("string") for b in range(bands)])
            ).alias("_band", "_bucket")
        )
        .groupBy("_band", "_bucket")
        .agg(F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") > cap)
    )
    rows = counted.limit(max_hot + 1).collect()
    if len(rows) > max_hot:
        raise RuntimeError(
            f"minband_pair_union: more than {max_hot} oversize buckets at "
            f"max_bucket_rows={cap} — the corpus is degenerate at this cap; "
            "raise max_bucket_rows or pre-aggregate the duplicate keys"
        )
    hot: dict[int, dict[str, int]] = {}
    for r in rows:
        hot.setdefault(int(r["_band"]), {})[r["_bucket"]] = int(r["_n"])
    return hot


def minband_pair_union(
    x: DataFrame,
    y: DataFrame,
    slice_a,
    slice_b,
    bands: int,
    pair_predicate=None,
    max_bucket_rows: int | None = None,
    oversize_policy: str = "salt",
    salt_col_a: str | None = None,
    max_salt: int = 64,
    max_hot_buckets: int = 4096,
    stats_out: dict | None = None,
    x_rows: int | None = None,
):
    """Exactly-once banded candidate pairs from ONE equi-join: both sides are
    exploded to one row per band keyed by (band, bucket), and a joined pair
    is kept only at its minimum shared band, so each candidate appears
    exactly once and no cross-band ``distinct`` — a full shuffle of the
    bands-times-inflated raw pair stream — is ever needed.  The single
    shuffle of the set-similarity-join signature scheme (PAPERS.md,
    *Distributed Streaming Set Similarity Join*): at small inputs every
    join is its own stage job, so one join instead of one per band (plus
    one per hot band) is what the operator costs.

    ``x``/``y``: the two (pre-aliased) sides carrying whatever columns the
    verify step needs; ``slice_a(b)`` / ``slice_b(b)``: the band-b bucket
    Column of each side; ``pair_predicate``: which joined rows form a pair
    (default ``id_a < id_b``, the self-join convention; query→corpus callers
    pass their own).  The minimum shared band is a ``CASE WHEN`` over the
    slices the joined rows already carry, evaluated right after the join,
    so the returned pairs flow narrow into the caller's verify.  Shared by
    the MinHash, sign-sketch-embedding, ANN-LSH, and phash near-dup
    operators — the exactly-once invariant lives here once.

    Hot-bucket guard (``max_bucket_rows``): the banded join assumes bucket
    groups stay tiny; a degenerate corpus (millions of near-empty documents
    sharing one signature, solid-color thumbnails sharing a phash band)
    makes ONE bucket key quadratic in the verify input.  With a cap set, a
    single narrow counting pass finds buckets whose x-side group exceeds it
    and applies ``oversize_policy``:

    * ``'salt'`` (exact, the default): the join key carries a salt — x rows
      of an oversize (band, bucket) spread over ``ceil(n/cap)`` salts via
      ``xxhash64(salt_col_a)``, y rows replicated across those salts, every
      other row salt 0 — so the SAME pair set is produced by the same join
      but no task ever owns the whole m×m group.  Requires ``salt_col_a``
      (a per-row-distinct x column).
    * ``'skip'``: oversize buckets are excluded from their band's rows and
      LOGGED (never silent); the minimum-band test treats a skipped band
      as not-shared, so a pair still surfaces at its first non-hot shared
      band.  Pairs whose every shared band is hot are dropped — recall
      loss, bounded and reported via ``stats_out``/logging.

    ``stats_out``: optional dict filled with
    ``{"hot": {band: {bucket: n}}, "policy", "salt_factor": {band: s}}``.

    ``x_rows``: the x side's row count when the caller already knows it —
    if it is <= the cap, NO bucket can exceed the cap and the counting pass
    is skipped for free."""
    import logging

    if pair_predicate is None:
        pair_predicate = F.col("id_a") < F.col("id_b")
    hot: dict[int, dict[str, int]] = {}
    if max_bucket_rows is not None and x_rows is not None and x_rows <= max_bucket_rows:
        max_bucket_rows = None  # provably no oversize bucket
    if max_bucket_rows is not None:
        if oversize_policy not in ("salt", "skip"):
            raise ValueError(f"unknown oversize_policy {oversize_policy!r}")
        hot = _hot_buckets(x, slice_a, bands, max_bucket_rows, max_hot_buckets)
        if hot and oversize_policy == "salt" and salt_col_a is None:
            raise ValueError(
                "minband_pair_union: oversize buckets found but no "
                "salt_col_a given for the exact salted branch — pass a "
                "per-row-distinct x column, or oversize_policy='skip'"
            )
        if hot:
            # the no-silent-caps rule: oversize buckets are always reported
            logging.getLogger(__name__).warning(
                "minband_pair_union: %d oversize bucket(s) over cap %d "
                "(policy=%s): %s",
                sum(len(v) for v in hot.values()),
                max_bucket_rows,
                oversize_policy,
                {b: {"buckets": len(v), "rows": sum(v.values())} for b, v in hot.items()},
            )
    # salts per hot band; 0 marks a skipped band
    salts = {
        b: max(2, int(min(max_salt, math.ceil(max(v.values()) / max_bucket_rows))))
        if oversize_policy == "salt" else 0
        for b, v in hot.items()
    }
    if stats_out is not None:
        stats_out["hot"] = hot
        stats_out["policy"] = oversize_policy if max_bucket_rows else None
        stats_out["salt_factor"] = salts if oversize_policy == "salt" else {}

    def is_hot(slice_of, b):
        return slice_of(b).cast("string").isin(list(hot[b]))

    def banded(side, slice_of, t):
        """One row per (row, band): ``_b{t}`` the band, ``_k{t}`` its
        bucket and, with hot buckets, ``_n{t}`` the bucket's salt count
        (1 when cold, 0 when skipped)."""

        def entry(b):
            cols = [F.lit(b).alias(f"_b{t}"), slice_of(b).alias(f"_k{t}")]
            if hot:
                n = F.lit(1)
                if b in hot:
                    n = F.when(is_hot(slice_of, b), F.lit(salts[b])).otherwise(n)
                cols.append(n.alias(f"_n{t}"))
            return F.struct(*cols)

        out = side.select("*", F.inline(F.array(*[entry(b) for b in range(bands)])))
        if hot and oversize_policy == "skip":
            out = out.where(F.col(f"_n{t}") > 0)
        return out

    xs, ys = banded(x, slice_a, "x"), banded(y, slice_b, "y")
    key = (F.col("_bx") == F.col("_by")) & (F.col("_kx") == F.col("_ky"))
    if hot and oversize_policy == "salt":
        xs = xs.withColumn(
            "_sx", F.pmod(F.xxhash64(F.col(salt_col_a)), F.col("_nx")).cast("int")
        )
        ys = ys.withColumn("_sy", F.explode(F.sequence(F.lit(0), F.col("_ny") - 1)))
        key = key & (F.col("_sx") == F.col("_sy"))

    def shared(b):
        eq = slice_a(b) == slice_b(b)
        if oversize_policy == "skip" and b in hot:
            # the skipped band did NOT emit this bucket: not-shared
            eq = eq & ~is_hot(slice_a, b)
        return eq

    first = F.when(shared(0), F.lit(0))
    for b in range(1, bands):
        first = first.when(shared(b), F.lit(b))
    return (
        xs.join(ys, key)
        .where(pair_predicate & (first == F.col("_bx")))
        # drop ignores the salt columns when there are none
        .drop("_bx", "_kx", "_nx", "_sx", "_by", "_ky", "_ny", "_sy")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 2,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    hash_family: str = "md5",
    broadcast_grams: bool | None = None,
    broadcast_max_rows: int = 2_000_000,
    materialize: bool = True,
    max_bucket_rows: int | None = 8192,
    oversize_policy: str = "salt",
    lsh_stats: dict | None = None,
) -> DataFrame:
    """Candidate pairs from banded LSH, then exact Jaccard verify on candidates.

    One banded join keyed by (band, md5-slice bucket) — bucket groups stay
    tiny, so the pair blow-up is bounded; each pair is emitted only at its
    minimum shared band (no cross-band distinct, see ``minband_pair_union``);
    the exact verify touches only candidates (the 100 TB-scale near-dup
    plan).  The shingle pass and the band buckets are computed ONCE and
    persisted — the banded join's two sides, the hot-bucket count and the
    verify joins all read them (the round-1 headline profile showed the
    tokenize+shingle expression tree, evaluated three times, dominating q18).

    ``hash_family``: 'xxhash64' (production/bench, fixture-oracled) or 'md5'
    (directly SQL-oracled) — see ``minhash_value``.  The xxhash64 path hashes
    each shingle to int64 ONCE in the shingle pass and runs everything
    downstream — signatures, the verify's set intersection, the broadcast
    grams frames — on the hashed values: per-element equality in the verify
    is an 8-byte compare instead of a string compare, and the broadcast
    payload shrinks from the gram text to 8 bytes/gram.  Jaccard over hashed
    shingle SETS equals Jaccard over the string sets unless two distinct
    grams collide in 64 bits (P < n_grams²/2⁶⁵ ≈ 1e-10 at 1e4 distinct
    grams/doc — the q34 DuckDB oracle computes the string-side Jaccard
    independently, so a collision would fail the gate loudly, not silently).

    ``broadcast_grams``: verify-join strategy for the per-doc grams sides.
    The candidate-pair stream can dwarf the doc dimension (near-dup cliques
    make |pairs| quadratic in clique size), so broadcasting grams keeps the
    big pair stream from shuffling — but a FORCED broadcast of a 100 TB-scale
    doc table OOMs the driver.  ``None`` (default) adapts on the measured doc
    count AND estimated grams bytes: ``similarity._verify_broadcast_ok`` at
    the mean grams per doc, 8 B a gram (the hashed width), under
    ``broadcast_max_rows`` and ``VERIFY_BROADCAST_MAX_BYTES`` — many grams
    per doc refuse the broadcast under the row cap.  True/False force.
    Refused, AQE picks the join.

    ``materialize=True`` (default) computes the verified pairs eagerly
    (``localCheckpoint``) and unpersists the shingle cache before returning —
    repeated calls leak nothing (round-2 ADVICE).  ``materialize=False``
    returns the lazy plan (for ``explain`` inspection) and never persists.

    ``max_bucket_rows``/``oversize_policy``: hot-bucket guard for the banded
    join (see ``minband_pair_union``) — with the default exact 'salt'
    policy the pair set is unchanged, but a degenerate corpus (mass-
    duplicated signatures) can no longer hand one task a quadratic bucket.
    The guard's counting pass is an action, so it is disabled in
    plan-inspection mode (``materialize=False``)."""
    rows_per_band = k // bands
    prehashed = hash_family == "xxhash64"
    gram_expr = word_ngrams(F.col(text_col), n)
    if prehashed:
        gram_expr = F.transform(gram_expr, lambda g: F.xxhash64(g))
    sh = df.select(F.col(id_col).alias("did"), gram_expr.alias("grams")).where(
        F.size("grams") > 0
    )
    if materialize:
        # Rebalance BEFORE caching: the k-permutation signatures are hashed
        # in the stage that populates the cache, so a small or skewed scan
        # would run them on a handful of cores.  Same reasoning as the crawl
        # round's parse rebalance (plans/crawl.py module docstring); the
        # shuffle moves only the doc-sized shingle frame, never pairs.
        sh = sh.repartition(df.sparkSession.sparkContext.defaultParallelism, "did")
    # One row per doc carrying its grams and every band bucket, so the
    # k-permutation signature hashing runs once per doc.
    sigs = sh.select("did", "grams", _sig_expr(k, hash_family, prehashed=prehashed).alias("sig"))
    sh = sigs.select(
        "did",
        "grams",
        *[band_bucket("sig", b, rows_per_band).alias(f"bk{b}") for b in range(bands)],
    )
    n_docs, width = None, 0
    if materialize:
        # one small action populates the cache before anything races it and
        # measures the verify's broadcast payload; the count doubles as the
        # guard's free bound
        sh = sh.persist()
        n_docs, n_grams = sh.agg(F.count(F.lit(1)), F.sum(F.size("grams"))).first()
        width = math.ceil((n_grams or 0) / max(n_docs, 1))  # mean grams per doc
    use_bc = broadcast_grams
    if use_bc is None:
        # in plan-inspection mode (no actions) n_docs is None: apply NO hint,
        # since a forced broadcast of an unbounded grams table is exactly
        # the driver-OOM this gate exists to prevent
        use_bc = _verify_broadcast_ok(
            n_docs, width, broadcast_max_rows, VERIFY_BROADCAST_MAX_BYTES
        )
    # Min-band candidate generation (minband_pair_union): the join shuffles
    # only the tiny per-doc buckets rows; the pair stream itself stays
    # narrow from enumeration through the (broadcast) verify join.
    x = sh.select(
        F.col("did").alias("id_a"),
        *[F.col(f"bk{i}").alias(f"xa{i}") for i in range(bands)],
    )
    y = sh.select(
        F.col("did").alias("id_b"),
        *[F.col(f"bk{i}").alias(f"yb{i}") for i in range(bands)],
    )
    cand = minband_pair_union(
        x,
        y,
        lambda b: F.col(f"xa{b}"),
        lambda b: F.col(f"yb{b}"),
        bands,
        max_bucket_rows=max_bucket_rows if materialize else None,
        oversize_policy=oversize_policy,
        salt_col_a="id_a",
        stats_out=lsh_stats,
        x_rows=n_docs,
    ).select("id_a", "id_b")
    a = sh.select(F.col("did").alias("id_a"), F.col("grams").alias("ga"))
    b = sh.select(F.col("did").alias("id_b"), F.col("grams").alias("gb"))
    if use_bc:
        a, b = F.broadcast(a), F.broadcast(b)
    # The intersection size is bound once through a one-element transform
    # (the Column API has no let): as a column alias Catalyst inlines it into
    # every use, and the verify join's pushed-down condition evaluated
    # array_intersect twice per candidate pair.
    jaccard_bp = F.transform(
        F.array(F.size(F.array_intersect("ga", "gb"))),
        lambda c: (c * 10000 / (F.size("ga") + F.size("gb") - c)).cast("long"),
    )[0]
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_bp", jaccard_bp)
        .where(F.col("jaccard_bp") >= int(threshold * 10000))
    ).select("id_a", "id_b", "jaccard_bp")
    if materialize:
        # pairs-above-threshold are output-proportional (small next to the
        # corpus): checkpoint them locally so the shingle cache can be
        # released deterministically instead of leaking per call
        verified = verified.localCheckpoint()
        sh.unpersist()
    return verified


# Edge lists up to this many rows are labelled on the driver; past it the
# distributed star rounds run instead.  The bound caps driver memory: on top
# of the collected Arrow edges, 10^6 random edges took ~150 MB and 0.8 s to
# label with long ids, ~350 MB and 5 s with md5-hex string ids (np.unique
# sorts those as Python objects).
MAX_EDGES = 1_000_000


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 20,
    stats_out: dict | None = None,
) -> DataFrame:
    """(did, rep): connected components over near-dup pairs — the cluster-
    resolution step after LSH pair generation, so a pipeline can keep ONE
    canonical document (the minimum id) per near-dup cluster.

    Up to ``MAX_EDGES`` edges the graph is labelled on the driver in ONE
    Spark job: ``limit(MAX_EDGES + 1).toArrow()`` is both the data and the
    size test.  Distributed connectivity pays only when the graph outgrows
    one machine; at curation sizes every iteration of a distributed
    algorithm is a ~0.1 s job, more than labelling the whole graph costs.
    Past the bound the collected rows are dropped and the alternating
    large-star/small-star rounds (``_components_star``) run instead.

    Every endpoint appears in the output, so a vertex whose only pair is a
    self-pair comes back self-labelled; ``rep`` is the minimum id of the
    component in Spark's ordering, and both columns keep the input's id
    type.  A null id comes back as one ``(null, null)`` row and carries no
    edge.

    ``stats_out``: optional dict; receives ``{"iterations": n,
    "algorithm_used": "driver" | "star"}``.  The star rounds fail loud if
    they have not converged after ``max_iters``."""
    e = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    edges = e.limit(MAX_EDGES + 1).toArrow()
    if edges.num_rows > MAX_EDGES:
        out, used = _components_star(pairs, id_a, id_b, max_iters, stats_out), "star"
    else:
        out, used = _components_driver(e, edges, stats_out), "driver"
    if stats_out is not None:
        stats_out["algorithm_used"] = used
    return out


def _components_driver(e: DataFrame, edges, stats_out: dict | None) -> DataFrame:
    """Label the collected (a, b) Arrow edges with a vectorised union-find.

    Ids map to dense indices in sorted order (``np.unique``), so the
    smallest index of a component is its minimum id.  Each round hooks every
    edge's larger root under its smaller one (``np.minimum.at``), then
    pointer jumping points every vertex straight at its root, so rounds grow
    as O(log n), not with the diameter as one-hop label propagation does.
    The result is a local frame with the input's id type."""
    import numpy as np
    import pyarrow as pa

    ends = pa.chunked_array(
        edges["a"].chunks + edges["b"].chunks, type=edges.schema.field("a").type
    ).combine_chunks()
    valid = ends.is_valid()
    ids = ends.filter(valid)
    _, first, inv = np.unique(
        ids.to_numpy(zero_copy_only=False), return_index=True, return_inverse=True
    )
    idx = np.full(len(ends), -1)
    idx[valid.to_numpy(zero_copy_only=False)] = inv
    u, v = idx[: edges.num_rows], idx[edges.num_rows :]
    keep = (u >= 0) & (v >= 0)
    u, v = u[keep], v[keep]
    parent = np.arange(len(first))
    it = 0
    while True:
        ru, rv = parent[u], parent[v]
        live = ru != rv
        if not live.any():
            break
        it += 1
        u, v, ru, rv = u[live], v[live], ru[live], rv[live]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while not np.array_equal(jumped := parent[parent], parent):
            parent = jumped
    if stats_out is not None:
        stats_out["iterations"] = it
    did = ids.take(pa.array(first))
    rep = did.take(pa.array(parent))
    if ends.null_count:
        did = pa.concat_arrays([did, pa.nulls(1, did.type)])
        rep = pa.concat_arrays([rep, pa.nulls(1, rep.type)])
    schema = e.select(F.col("a").alias("did"), F.col("a").alias("rep")).schema
    return e.sparkSession.createDataFrame(pa.table({"did": did, "rep": rep}), schema)


def _components_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iters: int, stats_out: dict | None
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris et
    al., "Connected Components in MapReduce and Beyond"): each round
    shortcuts paths toward the component minimum instead of moving labels
    one hop, so long-diameter graphs converge in ~log(diameter) rounds.

    Edges live canonically oriented (u > v).  Per alternating round:

    * large-star — over the symmetrized view, each node connects its
      STRICTLY GREATER neighbors to m = min(neighbors ∪ self): one
      min-aggregate shuffle + one join, output re-oriented (always v > u ≥
      m).  This is the pointer-shortcutting step.
    * small-star — over the oriented view, each node connects its smaller
      neighbors AND itself to m = min(smaller neighbors): same shuffle
      shape.  Keeps the forest shallow.

    At the fixpoint the edge set is a union of stars centered at component
    minima, so labels read off directly: (u → its center v), centers and
    isolated-by-orientation nodes label themselves.  Convergence test is an
    EXACT set comparison (count + anti-join), run once per alternating
    round — half the driver actions of a per-pass check."""
    raw = pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
    e = raw.where(F.col("a") != F.col("b"))
    E = (
        e.select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
        .distinct()
        .localCheckpoint()
    )
    n_edges = E.count()
    # vertex set from the UNFILTERED pairs: a vertex whose only pair is a
    # self-pair must still appear (self-labelled) in the output, exactly as
    # the driver path labels it — the two paths are tested equal
    vertices = (
        raw.select(F.col("a").alias("did"))
        .union(raw.select(F.col("b").alias("did")))
        .distinct()
        .localCheckpoint()
    )
    converged, it = n_edges == 0, 0
    for it in range(1, max_iters + 1):
        if converged:
            break
        # large-star
        sym = E.unionByName(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("_mv"))
            .select("u", F.least("_mv", F.col("u")).alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star (input already oriented u > v by the large-star output)
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        new_n = ss.count()
        converged = new_n == n_edges and ss.join(E, ["u", "v"], "left_anti").isEmpty()
        E, n_edges = ss, new_n
    if stats_out is not None:
        stats_out["iterations"] = it
    if not converged:
        raise RuntimeError(
            f"neardup_components(star): not converged after {max_iters} "
            "alternating rounds; raise max_iters"
        )
    centers = E.select(F.col("u").alias("did"), F.col("v").alias("rep"))
    return (
        vertices.join(centers, "did", "left")
        .select("did", F.coalesce(F.col("rep"), F.col("did")).alias("rep"))
    )


HEX_CHARS = "0123456789abcdef"


def simhash_hex(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash_hex string): 64-bit SimHash as 16 lowercase hex chars,
    bit source = the first 16 hex chars of md5(token) (MSB-first per nibble).

    Same structure as ``simhash`` (explode → 64 codegen'd ±1 bit-sums → sign
    bits) with the md5 bit family instead of xxhash64, so the whole operator
    is expressible in DuckDB SQL and fully oracle-checked (round-1 VERDICT
    next-step #6); the hex-string output sidesteps signed-64 overflow
    differences between engines.  ``simhash`` stays the cheaper production
    path — property-tested in pytest."""
    tok = df.select(
        F.col(id_col).alias("did"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("h", F.substring(F.md5("t"), 1, 16))
    aggs = []
    for i in range(64):
        nib = F.conv(F.substring("h", i // 4 + 1, 1), 16, 10).cast("int")
        bit = F.shiftright(nib, 3 - i % 4).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"b{i}"))
    bit_sums = tok.groupBy("did").agg(*aggs)
    hexmap = F.array(*[F.lit(c) for c in HEX_CHARS])
    nib_chars = []
    for j in range(16):
        val = F.lit(0)
        for s in range(4):  # bit j*4+s holds weight 2^(3-s) (MSB-first)
            val = val + F.when(F.col(f"b{j * 4 + s}") > 0, F.lit(1 << (3 - s))).otherwise(F.lit(0))
        nib_chars.append(F.element_at(hexmap, (val + 1).cast("int")))
    return bit_sums.select("did", F.concat(*nib_chars).alias("simhash_hex"))


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long): 64-bit bit-majority over xxhash64(token).

    explode → per-bit ±1 sums (64 bitwise Column exprs, all codegen'd) →
    sign bits reassembled into one long.
    """
    tok = df.select(
        F.col(id_col).alias("did"), F.explode(tokens(F.col(text_col))).alias("t")
    ).withColumn("h", F.xxhash64("t"))
    bit_sums = tok.groupBy("did").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    acc = F.lit(0).cast("long")
    for i in range(64):
        acc = acc.bitwiseOR(
            F.when(F.col(f"b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bit_sums.select("did", acc.alias("simhash"))
