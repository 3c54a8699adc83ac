"""Invariant tests for the non-oracle (rows-only) dedup operators:
LSH candidates must be a subset of the exact pairs and recall high."""

from streamlit_projet_spark_streaming_spark.operators import dedup
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_CORRECT


def test_minhash_lsh_subset_and_recall(spark):
    docs = load_table(spark, "documents", SF_CORRECT)
    exact = {
        (r.doc_a, r.doc_b) for r in dedup.ngram_jaccard_pairs(docs, 5, 0.6).collect()
    }
    lsh = {(r.doc_a, r.doc_b) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert lsh <= exact, f"LSH produced non-exact pairs: {lsh - exact}"
    if exact:
        recall = len(lsh) / len(exact)
        assert recall >= 0.8, f"LSH recall too low: {recall:.2f} ({len(lsh)}/{len(exact)})"


def test_simhash_finds_near_dups(spark):
    docs = load_table(spark, "documents", SF_CORRECT)
    pairs = dedup.simhash_pairs(docs).collect()
    for r in pairs:
        assert r.doc_a < r.doc_b
        assert 0 <= r.hamming <= 6


def _naive_simhash_pairs(spark, docs, nbits, max_hamming):
    """All-pairs crossJoin over the same signature definition as
    dedup.simhash_pairs — the lossless-banding reference."""
    from pyspark.sql import functions as F

    word_hash = F.conv(F.substring(F.md5("w"), 1, 15), 16, 10).cast("long")
    words = (
        docs.select(F.col("doc_id"), dedup._norm(F.col("text")).alias("t"))
        .select("doc_id", F.explode(F.split(F.col("t"), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .withColumn("h", word_hash)
    )
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(nbits)
    ]
    per_bit = words.groupBy("doc_id").agg(*bit_aggs)
    sig = None
    for i in range(nbits):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, i)
        sig = term if sig is None else sig.bitwiseOR(term)
    sigs = per_bit.select("doc_id", sig.alias("simhash"))
    a, b = sigs.alias("a"), sigs.alias("b")
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", dist)
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            "hamming",
        )
    )


def test_simhash_banding_is_lossless(spark):
    """The banded chunk join returns EXACTLY the all-pairs result:
    max_hamming+1 disjoint chunks covering all bits guarantee any pair
    within Hamming <= k agrees on >= 1 chunk (pigeonhole)."""
    docs = load_table(spark, "documents", SF_CORRECT)
    got = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in dedup.simhash_pairs(docs).collect()
    )
    expect = sorted(
        (r.doc_a, r.doc_b, r.hamming)
        for r in _naive_simhash_pairs(spark, docs, 60, 6).collect()
    )
    assert got == expect


def test_rh_lsh_recall_on_planted_near_dups(spark, monkeypatch):
    """SRP-LSH near-dup pairs: exact-verified candidates are a subset of
    the exact quadratic result, with recall >= 0.9 on planted perturbed
    duplicates (the fixture's random vectors have no 0.95-pairs)."""
    from pyspark.sql import functions as F

    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    corpus = sim.planted_near_dup_corpus(
        load_table(spark, "embeddings", SF_CORRECT)
    )
    approx = set(
        (r.vec_a, r.vec_b) for r in sim.rh_near_dup_pairs(corpus).collect()
    )
    monkeypatch.setattr(sim, "COSINE_NEAR_DUP_THRESHOLD", 0.95)
    exact = set((r.vec_a, r.vec_b) for r in sim.cosine_near_dup_pairs(corpus).collect())
    assert approx <= exact
    assert len(exact) >= 50
    assert len(approx & exact) / len(exact) >= 0.9


def _word_3gram_sets(df):
    """Distinct word-3-gram set per doc, collected from ``shingles``."""
    sets_ = {}
    for r in dedup.shingles(df, 3).collect():
        sets_.setdefault(r.doc_id, set()).add(r.sh)
    return sets_


def test_ngram_jaccard_prefix_filter_is_lossless(spark):
    """ngram_jaccard_pairs (prefix + length + positional filters) must
    return EXACTLY the naive all-pairs result at several thresholds,
    including ones like 0.57 where float-rounded alpha could
    overestimate the exact pigeonhole bound."""
    import itertools

    from pyspark.sql import functions as F

    # deterministic tiny-vocab corpus: lots of partial overlaps
    vocab = ["red", "blue", "green", "gold", "iron", "wolf", "moon", "star"]
    docs = []
    rng_state = 12345
    for doc_id in range(40):
        rng_state = (rng_state * 1103515245 + 12345) % (2**31)
        n_words = 5 + rng_state % 8
        words = [
            vocab[(rng_state // (7**j)) % len(vocab)] for j in range(n_words)
        ]
        docs.append((doc_id, " ".join(words)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    # naive exact: distinct word-3-gram sets per doc, all-pairs Jaccard
    sets_ = _word_3gram_sets(df)
    for threshold in (0.5, 0.57, 0.6, 0.84):
        expect = set()
        for a, b in itertools.combinations(sorted(sets_), 2):
            inter = len(sets_[a] & sets_[b])
            union = len(sets_[a] | sets_[b])
            if union and inter / union >= threshold:
                expect.add((a, b))
        got = set(
            (r.doc_a, r.doc_b)
            for r in dedup.ngram_jaccard_pairs(df, 3, threshold).collect()
        )
        assert got == expect, f"threshold={threshold}"


def test_duplicate_clusters_transitive_chains(spark):
    """Min-label propagation must collapse transitive chains into one
    component even when no direct pair exists between the endpoints —
    including a long path (9 hops) that needs multiple propagation
    rounds, and singleton-free output (only docs appearing in pairs)."""
    pairs = spark.createDataFrame(
        # chain 0-1-2-...-9 given only as consecutive pairs, plus an
        # isolated pair {100, 101} and a triangle {20, 21, 22}
        [(i, i + 1) for i in range(9)]
        + [(100, 101), (20, 21), (21, 22), (20, 22)],
        "doc_a long, doc_b long",
    )
    got = {
        r.doc_id: r.cluster_id
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert {k for k in got} == set(range(10)) | {100, 101, 20, 21, 22}
    assert all(got[i] == 0 for i in range(10))
    assert got[100] == got[101] == 100
    assert got[20] == got[21] == got[22] == 20


def test_validation_errors(spark):
    """Operators reject invalid arguments loudly instead of silently
    computing the wrong thing."""
    import pytest
    from pyspark.sql import functions as F

    from streamlit_projet_spark_streaming_spark.operators.relational import asof_join, bucketize

    docs = load_table(spark, "documents", SF_CORRECT)
    with pytest.raises(ValueError, match="unit"):
        dedup.shingles(docs, 3, unit="chars")
    with pytest.raises(ValueError, match="len"):
        bucketize(F.col("x"), (1.0, 2.0), ("a", "b"))
    ev = load_table(spark, "events", SF_CORRECT)
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            ev.select("event_id", "user_id", "ts"),
            ev.select("user_id", "ts", "value"),
            on="user_id",
            left_ts="ts",
            right_ts="ts",
            right_vals=["ts", "value"],
            tiebreak="value",
        )


def test_ivf_kmeans_recall_vs_brute_force(spark):
    """Trained-quantizer IVF: each query's approximate top-5 overlaps the
    exact brute-force top-5 (recall bound; random embeddings are the
    LSH-adversarial case, so the bound is intentionally loose)."""
    from pyspark.sql import functions as F

    from streamlit_projet_spark_streaming_spark.operators import similarity as sim

    emb = load_table(spark, "embeddings", SF_CORRECT)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.brute_force_topk(emb, F.col("vec_id") < 10, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in sim.ivf_topk_kmeans(emb, F.col("vec_id") < 10).collect()
    }
    assert len(approx) == len(exact) == 50
    assert len(approx & exact) / len(exact) >= 0.2


def test_incremental_dedup_tolerates_overlapping_ids(spark):
    """Corpus and batch sharing a doc_id must not merge their shingle
    sets (ADVICE r5): the near-dup layer runs on side-tagged keys."""
    from streamlit_projet_spark_streaming_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # same id as a corpus doc, completely different text
            (1, "one two three four five six seven eight nine ten"),
            # different id, identical text -> exact dup
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.is_exact_dup, r.is_near_dup, r.keep)
        for r in incremental_dedup(corpus, batch).collect()
    }
    assert got[1] == (False, False, True), got
    assert got[2][0] is True and got[2][2] is False, got


def test_cross_source_dup_matrix_planted(spark):
    from streamlit_projet_spark_streaming_spark.operators.dedup import cross_source_dup_matrix

    docs = spark.createDataFrame(
        [
            (1, "shared text one two three", "srcA"),
            (2, "shared text one two three", "srcB"),
            (3, "shared text one two three", "srcC"),
            (4, "only in a", "srcA"),
            (5, "only in b", "srcB"),
            (6, "another shared blob here", "srcA"),
            (7, "another shared blob here", "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    out = {
        (r["source_a"], r["source_b"]): r["shared_texts"]
        for r in cross_source_dup_matrix(docs).collect()
    }
    # The 3-way shared text yields all three pairs; the 2-way adds A-B.
    assert out == {
        ("srcA", "srcB"): 2,
        ("srcA", "srcC"): 1,
        ("srcB", "srcC"): 1,
    }


def test_lsh_quality_report_consistency(spark):
    from streamlit_projet_spark_streaming_spark.operators.dedup import (
        lsh_quality_report,
        minhash_candidates,
        ngram_jaccard_pairs,
    )
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    row = lsh_quality_report(docs).collect()[0]
    # Verified pairs are true positives: bounded by both sides.
    assert row["n_verified"] <= row["n_candidates"]
    assert row["n_verified"] <= row["n_true_pairs"]
    # The counts agree with the component operators run standalone.
    assert row["n_candidates"] == minhash_candidates(docs).count()
    assert row["n_true_pairs"] == ngram_jaccard_pairs(docs).count()
    assert 0 < row["candidate_precision"] <= 1.0
    assert 0 < row["recall"] <= 1.0


def test_containment_filters_are_lossless(spark, monkeypatch):
    """containment_pairs (A-prefix + length + positional filters) must
    return EXACTLY the naive all-pairs directed containment result at
    several thresholds — including |A|·τ exactly integral (τ=0.75 with
    |A|=8) where float rounding of alpha could flip the bound."""
    import itertools

    vocab = ["red", "blue", "green", "gold", "iron", "wolf", "moon", "star"]
    docs = []
    rng_state = 54321
    for doc_id in range(40):
        rng_state = (rng_state * 1103515245 + 12345) % (2**31)
        n_words = 5 + rng_state % 8
        words = [
            vocab[(rng_state // (7**j)) % len(vocab)] for j in range(n_words)
        ]
        docs.append((doc_id, " ".join(words)))
    # plant a subsumption: doc 100 = first half of doc 0's words
    docs.append((100, " ".join(docs[0][1].split()[: max(4, 5)])))
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    sets_ = _word_3gram_sets(df)
    for threshold in (0.6, 0.75, 0.8):
        expect = set()
        for a, b in itertools.permutations(sorted(sets_), 2):
            if sets_[a] and len(sets_[a] & sets_[b]) / len(sets_[a]) >= threshold:
                expect.add((a, b))
        monkeypatch.setattr(dedup, "CONTAINMENT_THRESHOLD", threshold)
        got = set((r.doc_a, r.doc_b) for r in dedup.containment_pairs(df).collect())
        assert got == expect, f"threshold={threshold}"


def test_containment_finds_planted_subsumed_doc(spark):
    """A document that is a verbatim chunk of a larger one scores
    containment 1.0 toward its container (the relation Jaccard misses:
    their Jaccard here is well under the 0.8 containment threshold)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, "documents", SF_CORRECT)
    base = docs.filter(F.col("doc_id") == 1).collect()[0]
    words = base["text"].split()
    chunk = " ".join(words[: len(words) // 2])
    planted = spark.createDataFrame(
        [(900001, chunk)], ["doc_id", "text"]
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("x")).withColumn(
        "n_chars", F.length("text")
    )
    corpus = docs.select("doc_id", "text", "lang", "source", "n_chars").unionByName(
        planted
    )
    pairs = {
        (r.doc_a, r.doc_b): r.containment
        for r in dedup.containment_pairs(corpus).collect()
    }
    assert (900001, 1) in pairs
    assert pairs[(900001, 1)] >= 0.99
