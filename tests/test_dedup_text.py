"""Text near-dup operators: MinHash+LSH recall vs exact Jaccard, SimHash
hamming properties (both hash families), on top of the full DuckDB oracles in
test_entry_oracle.py.
"""

import os

from pyspark.sql import functions as F

from spiderman_spark.operators import dedup

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def test_minhash_lsh_subset_and_recall(spark):
    """LSH pairs verify candidates exactly → subset of the exact pairs; the
    banded sketch must keep recall high at the operating threshold."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.6).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=1, k=32, bands=8, threshold=0.6
        ).collect()
    }
    assert lsh <= exact
    assert exact and len(lsh) / len(exact) >= 0.9, (len(lsh), len(exact))


def test_minhash_fast_family_quality_and_subset(spark):
    """The xxhash64 production family must behave like the md5 oracled family:
    every emitted pair is exactly-verified (subset of exact Jaccard pairs) and
    recall at the operating threshold stays high.  The two families use
    independent permutations, so candidate sets may differ at the margin —
    the exact-verify stage makes both PRECISE; only recall can differ."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(docs, "doc_id", "text", n=1, threshold=0.6).collect()
    }
    fast = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=1, k=32, bands=8, threshold=0.6,
            hash_family="xxhash64",
        ).collect()
    }
    assert fast <= exact
    assert exact and len(fast) / len(exact) >= 0.9, (len(fast), len(exact))


def test_minhash_verify_join_broadcast_modes(spark):
    """VERDICT r2 #3: the grams sides of the verify join must be
    broadcast-able under the threshold and NOT forced above it (AQE/SMJ takes
    over) — both modes asserted on the physical plan."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))

    def plan(broadcast_grams):
        import io
        from contextlib import redirect_stdout

        df = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=1, k=8, bands=2, threshold=0.6,
            broadcast_grams=broadcast_grams, materialize=False,
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    # distinguish a FORCED broadcast (the hint) from Catalyst choosing one on
    # size stats: with auto-broadcast off, only the hinted mode may broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bc = plan(True)
        assert "BroadcastHashJoin" in bc
        no_bc = plan(False)
        assert "SortMergeJoin" in no_bc or "ShuffledHashJoin" in no_bc
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_minhash_verify_broadcast_gate_counts_grams(spark, monkeypatch):
    """The adaptive verify-join gate weighs grams, not rows alone: docs
    with many grams refuse the broadcast under the row cap, few-gram docs
    of the same count keep it, and the pairs do not depend on the choice."""
    calls = []
    real = dedup._verify_broadcast_ok

    def spy(*args):
        calls.append((args, real(*args)))
        return calls[-1][1]

    monkeypatch.setattr(dedup, "_verify_broadcast_ok", spy)
    monkeypatch.setattr(dedup, "VERIFY_BROADCAST_MAX_BYTES", 64 << 10)
    words = [f"w{i}" for i in range(400)]
    many = [(i, " ".join(words[i:] + words[:i])) for i in range(40)]
    few = [(i, " ".join(words[i:i + 10])) for i in range(40)]
    got = {}
    for name, rows in (("many", many), ("few", few)):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got[name] = dedup.minhash_lsh_pairs(
            df, "doc_id", "text", n=1, k=8, bands=2, threshold=0.9,
            hash_family="xxhash64",
        )
        (n_docs, width, max_rows, max_bytes), ok = calls[-1]
        assert (n_docs, max_rows, max_bytes) == (40, 2_000_000, 64 << 10)
        assert width == (400 if name == "many" else 10)
        assert ok == (name == "few"), (name, width)
    # every "many" doc holds the same 400 words: one clique of 40
    assert got["many"].count() == 40 * 39 // 2
    assert got["few"].count() == 0


def test_minhash_materialize_releases_cache(spark):
    """ADVICE r2: repeated minhash calls must not accumulate persisted
    shingle frames."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(50)
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    for _ in range(2):
        dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", n=1, k=8, bands=2, threshold=0.6
        ).count()
    after = spark.sparkContext._jsc.getPersistentRDDs().size()
    # localCheckpoint blocks remain per returned result; the *shingle* persist
    # must be gone — allow the two checkpointed results, nothing more
    assert after - before <= 2, (before, after)


def _hamming_hex(a: str, b: str) -> int:
    return bin(int(a, 16) ^ int(b, 16)).count("1")


def test_simhash_properties_both_families(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    near = base.replace("lazy", "idle")
    far = "completely different words about astrophysics and galaxy rotation curves " * 4
    df = spark.createDataFrame(
        [("d1", base), ("d2", base), ("d3", near), ("d4", far)],
        "doc_id string, text string",
    )
    hx = {r["did"]: r["simhash_hex"] for r in dedup.simhash_hex(df, "doc_id", "text").collect()}
    assert len(hx["d1"]) == 16 and set(hx["d1"]) <= set("0123456789abcdef")
    assert hx["d1"] == hx["d2"]  # identical text → identical hash
    assert _hamming_hex(hx["d1"], hx["d3"]) <= 12  # near-dup → close
    assert _hamming_hex(hx["d1"], hx["d4"]) > 16  # unrelated → far
    xx = {r["did"]: r["simhash"] for r in dedup.simhash(df, "doc_id", "text").collect()}
    assert xx["d1"] == xx["d2"]
    assert bin((xx["d1"] ^ xx["d3"]) & ((1 << 64) - 1)).count("1") <= 12
    assert bin((xx["d1"] ^ xx["d4"]) & ((1 << 64) - 1)).count("1") > 16


def test_sig_expr_prehashed_matches_string_path(spark):
    """The fast-path shingle pass hashes grams to int64 once and feeds
    pre-hashed values into the signature fold; the signatures must be
    bit-identical to folding the gram strings directly (both are
    xxhash64(xxhash64(gram), i) — the fixture oracle depends on it)."""
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).limit(40)
    sh = docs.select(
        F.col("doc_id").alias("did"), dedup.word_ngrams(F.col("text"), 1).alias("grams")
    ).where(F.size("grams") > 0)
    via_strings = sh.select("did", dedup._sig_expr(16, "xxhash64").alias("sig"))
    via_hashes = sh.withColumn(
        "grams", F.transform("grams", lambda g: F.xxhash64(g))
    ).select("did", dedup._sig_expr(16, "xxhash64", prehashed=True).alias("sig"))
    a = {r["did"]: r["sig"] for r in via_strings.collect()}
    b = {r["did"]: r["sig"] for r in via_hashes.collect()}
    assert a and a == b


def test_winnow_fingerprints_theorem_and_reference(spark):
    """Winnowing (q36 family): any shared substring of length >= k+w-1 must
    yield a shared fingerprint (the winnowing guarantee); disjoint texts
    share none; sub-k texts emit none.  One doc's set is cross-checked
    against an independent pure-Python winnow."""
    import hashlib

    from spiderman_spark.operators import textstats

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "xx the quick brown fox jumps zz"),
        (3, "completely different material, no overlap!!"),
        (4, "ab"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = textstats.winnow_fingerprints(df, "doc_id", "text", k=8, w=4)
    fps: dict[int, set] = {}
    for r in out.collect():
        fps.setdefault(r["did"], set()).add(r["fp"])
    assert fps[1] & fps[2]  # 25-char shared substring >= k+w-1=11
    assert not (fps[1] & fps[3])
    assert 4 not in fps
    k, w, t = 8, 4, rows[0][1]
    hs = [hashlib.md5(t[i : i + k].encode()).hexdigest()[:16] for i in range(len(t) - k + 1)]
    want = {min(hs[j : j + w]) for j in range(len(hs) - w + 1)}
    assert fps[1] == want


def test_neardup_components_chain_clique(spark):
    """q37 family: min-label propagation must resolve a multi-hop chain
    (diameter > 1), a clique, and an isolated pair to their minimum-id
    representatives — exactly what the recursive-CTE oracle computes."""
    pairs = spark.createDataFrame(
        [
            # chain 1-2-3-4 (needs multiple propagation rounds)
            (1, 2), (2, 3), (3, 4),
            # clique 10,11,12
            (10, 11), (10, 12), (11, 12),
            # isolated pair
            (20, 21),
        ],
        "id_a long, id_b long",
    )
    got = {r["did"]: r["rep"] for r in dedup.neardup_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_bpe_token_count_vs_python_re(spark):
    """q39 family: the BPE-ish pre-tokenizer must produce the same token
    arrays as an independent Python ``re`` evaluation of the same pattern,
    count only non-whitespace tokens, and report 0 on empty/whitespace-only
    text."""
    import re

    from spiderman_spark.operators import textstats

    rows = [
        (1, "Hello world, it's 2024!  We'll tokenize-this... ok?"),
        (2, ""),
        (3, "   \t \n "),
        (4, "naïve café 3.14foo's"),
        (5, "a_b__c 100,000.5 -- don't"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: (r["toks"], r["n"])
        for r in df.select(
            "doc_id",
            textstats.bpe_tokens(F.col("text")).alias("toks"),
            textstats.bpe_token_count(F.col("text")).alias("n"),
        ).collect()
    }
    pat = re.compile(textstats.BPE_SPLIT_RE)
    for doc_id, text in rows:
        want = pat.findall(text)
        assert got[doc_id] == (want, len(want)), (doc_id, got[doc_id], want)
    assert got[2][1] == 0 and got[3][1] == 0  # no whitespace tokens
