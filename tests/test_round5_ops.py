"""Semantics tests for the round-5 operators: DSIR importance weights,
hashed linear quality classifier, BM25 retrieval, quality-aware dedup
representatives. Planted fixtures verify the BEHAVIOR (oracle tests in
test_correctness.py verify cross-engine equality on the driver fixtures).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators.sampling import dsir_importance_weights
from streamlit_projet_spark_streaming_spark.operators.text import (
    BM25_K,
    CLF_BUCKETS,
    CLF_MULT,
    best_copy_per_group,
    bm25_topk,
    quality_classifier,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------- DSIR ----


def test_dsir_target_like_docs_score_higher(spark):
    # target (en) docs speak "alpha beta", others speak "gamma delta";
    # a fresh raw doc in target language must out-score one in the other.
    rows = [
        (1, "alpha beta alpha beta alpha", "en"),
        (2, "beta alpha beta alpha beta", "en"),
        (3, "gamma delta gamma delta gamma", "xx"),
        (4, "delta gamma delta gamma delta", "xx"),
        (10, "alpha beta alpha beta", "xx"),   # target-LIKE but not target
        (11, "gamma delta gamma delta", "xx"),
    ]
    out = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_importance_weights(
            _docs(spark, rows), target=F.col("lang") == "en"
        ).collect()
    }
    assert out[10] > out[11]
    # with target ⊆ raw, smoothed log-ratios are ≤ 0 by construction (every
    # target count also appears in the raw count), so only the ORDERING is
    # meaningful: in-distribution docs must out-rank off-distribution ones.
    assert out[1] > out[3] and out[2] > out[4]


def test_dsir_n_grams_counts_uni_plus_bi(spark):
    rows = [(1, "a b c", "en"), (2, "solo", "en")]
    out = {
        r["doc_id"]: r["n_grams"]
        for r in dsir_importance_weights(
            _docs(spark, rows), target=F.lit(True)
        ).collect()
    }
    assert out[1] == 3 + 2  # 3 unigrams + 2 bigrams
    assert out[2] == 1      # 1 unigram, no bigram


# ---------------------------------------------------- quality classifier ----


def _py_weight_milli(word: str) -> int:
    bucket = int(hashlib.md5(word.encode()).hexdigest()[:7], 16) % CLF_BUCKETS
    return bucket * CLF_MULT % 2001 - 1000


def test_classifier_matches_hand_computation(spark):
    text = "spark table join query"
    rows = [(1, text, "en")]
    [r] = quality_classifier(_docs(spark, rows)).collect()
    words = text.split()
    milli = sum(_py_weight_milli(w) for w in words)
    margin = milli / 1000.0 / len(words)
    assert r["n_terms"] == len(words)
    # margin6 replayed with the OPERATOR's half-away-from-zero integer
    # formula, not Python round() (banker's rounding rounds half-to-even
    # — the exact half-grid class this repo's rules pin; r8 review
    # catch); clf_prob is the softsign probability (exact integer
    # ratio, r8 — the logistic's slope-1/4 linearization made
    # ROUND(sigmoid, 4) ulp-fragile):
    # p = (1e6 + |m6| + m6) / (2 * (1e6 + |m6|)) on the exact margin6
    from streamlit_projet_spark_streaming_spark.operators.numeric import ratio_round_int

    n = len(words)
    m6 = (1 if milli >= 0 else -1) * (
        (abs(milli) * 2_000_000 + n * 1000) // (n * 2000)
    )
    assert r["margin"] == pytest.approx(m6 / 1_000_000, abs=1e-12)
    assert r["clf_prob"] == pytest.approx(
        ratio_round_int(1_000_000 + abs(m6) + m6, 2 * (1_000_000 + abs(m6)), 4),
        abs=1e-12,
    )
    assert r["keep"] == (milli >= 0)


def test_classifier_keep_is_margin_sign(spark):
    docs = _docs(spark, [(i, f"w{i} text sample", "en") for i in range(50)])
    for r in quality_classifier(docs).collect():
        assert r["keep"] == (r["margin"] >= 0)


# ------------------------------------------------------------------ BM25 ----


def test_bm25_ranks_heavier_term_usage_higher(spark):
    rows = [
        (1, "spark spark spark engine", "en"),
        (2, "spark engine engine engine", "en"),
        (3, "engine only no match here", "en"),
        (4, "join vector spark all three terms", "en"),
    ]
    out = bm25_topk(_docs(spark, rows)).collect()
    ids = [r["doc_id"] for r in out]
    scores = {r["doc_id"]: r["bm25"] for r in out}
    assert 3 not in ids                       # no query term -> absent
    assert scores[1] > scores[2]              # higher tf of 'spark'
    assert scores[4] == max(scores.values())  # all three terms
    assert all(s > 0 for s in scores.values())


def test_bm25_k_cap_and_order(spark):
    rows = [(i, "spark " * (i + 1), "en") for i in range(30)]
    out = bm25_topk(_docs(spark, rows)).collect()
    assert len(rows) > BM25_K and len(out) == BM25_K
    scores = [r["bm25"] for r in out]
    assert scores == sorted(scores, reverse=True)


# ------------------------------------------------- group representatives ----


def test_representatives_keep_best_cased_copy(spark):
    # same normalized text -> same group; the properly-cased copy must
    # beat the SHOUTING copy regardless of doc_id order.
    dup = "the cat and the dog of the house"
    rows = [
        (1, dup.upper(), "en"),          # shouting copy, LOWER id
        (2, dup, "en"),                  # intact casing, must win
        (3, "  " + dup.title() + "  ", "en"),  # Title Case, middle ratio
        (9, "completely different text body", "en"),
    ]
    out = best_copy_per_group(_docs(spark, rows)).collect()
    groups = {r["fingerprint"]: r for r in out}
    assert len(groups) == 2
    dup_row = next(r for r in out if r["n_copies"] == 3)
    assert dup_row["keep_doc_id"] == 2
    assert dup_row["lc_ratio"] == 1.0


def test_representatives_tie_breaks_to_min_id(spark):
    # byte-identical copies -> identical lc_ratio -> min doc_id wins
    rows = [(5, "same exact text here", "en"), (3, "same exact text here", "en")]
    [r] = best_copy_per_group(_docs(spark, rows)).collect()
    assert r["keep_doc_id"] == 3 and r["n_copies"] == 2


# ----------------------------------------------------- incremental dedup ----


def test_incremental_dedup_verdicts(spark):
    from streamlit_projet_spark_streaming_spark.operators.dedup import incremental_dedup

    # long base so a 1-word edit stays well above the 0.6 Jaccard threshold
    # (edit flips 3 of ~38 3-gram shingles -> J ≈ 35/41 ≈ 0.85)
    base = " ".join(f"word{i}" for i in range(40))
    corpus = _docs(
        spark,
        [
            (1, base, "en"),
            (2, "completely unrelated corpus text about spark engines", "en"),
        ],
    )
    batch = _docs(
        spark,
        [
            (10, base.upper(), "en"),                        # exact (normalized)
            (11, base.replace("word20", "edited"), "en"),    # near (1-word edit)
            (12, "totally novel content never seen before anywhere", "en"),
            (13, "totally novel content never seen before anywhere", "en"),
        ],
    )
    out = {r["doc_id"]: r for r in incremental_dedup(corpus, batch).collect()}
    assert out[10]["is_exact_dup"] and not out[10]["keep"]
    assert out[11]["is_near_dup"] and not out[11]["keep"]
    assert out[12]["keep"] and out[13]["keep"]  # within-batch dups both kept


def test_incremental_dedup_short_doc_exact_layer_only(spark):
    from streamlit_projet_spark_streaming_spark.operators.dedup import incremental_dedup

    corpus = _docs(spark, [(1, "some corpus text here", "en")])
    # doc shorter than the 3-gram width: no shingles, exact layer only
    batch = _docs(spark, [(9, "short", "en")])
    out = incremental_dedup(corpus, batch).collect()
    assert len(out) == 1 and out[0]["keep"]


# --------------------------------------------------------- span removal ----


def test_remove_dup_spans_cuts_shared_spans_only(spark):
    from streamlit_projet_spark_streaming_spark.operators.text import remove_dup_spans

    shared = "one two three four five"          # exactly one 5-gram
    rows = [
        (1, f"alpha beta {shared} gamma delta", "en"),
        (2, f"{shared} something else entirely here", "en"),
        (3, "no duplicated material in this document at all", "en"),
    ]
    out = {r["doc_id"]: r for r in remove_dup_spans(_docs(spark, rows)).collect()}
    assert out[1]["cleaned_text"] == "alpha beta gamma delta"
    assert out[1]["n_removed"] == 5
    assert out[2]["cleaned_text"] == "something else entirely here"
    assert out[3]["n_removed"] == 0
    assert out[3]["cleaned_text"] == rows[2][1]


def test_remove_dup_spans_fully_duplicated_doc_empties(spark):
    from streamlit_projet_spark_streaming_spark.operators.text import remove_dup_spans

    t = "five words exactly in span"
    rows = [(1, t, "en"), (2, t, "en")]
    out = {r["doc_id"]: r for r in remove_dup_spans(_docs(spark, rows)).collect()}
    for d in (1, 2):
        assert out[d]["cleaned_text"] == ""
        assert out[d]["n_removed"] == out[d]["n_words"] == 5


def test_remove_dup_spans_overlapping_spans_union_coverage(spark):
    from streamlit_projet_spark_streaming_spark.operators.text import remove_dup_spans

    # doc 1 contains a 6-word duplicated run -> two overlapping 5-gram
    # spans; coverage must be their UNION (6 words), not double-counted.
    run = "a b c d e f"
    rows = [
        (1, f"start {run} end", "en"),
        (2, f"{run} tail words here now", "en"),
    ]
    out = {r["doc_id"]: r for r in remove_dup_spans(_docs(spark, rows)).collect()}
    assert out[1]["cleaned_text"] == "start end"
    assert out[1]["n_removed"] == 6


# -------------------------------------------------------- label centroids ----


def test_label_centroids_hand_computed(spark):
    from streamlit_projet_spark_streaming_spark.operators.similarity import label_centroids

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 7),
            (2, [3.0, 0.0], 7),
            (3, [10.0, 4.0], 8),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    out = {(r["label"], r["dim"]): r for r in label_centroids(emb).collect()}
    assert out[(7, 1)]["centroid"] == 2.0       # mean(1, 3)
    assert out[(7, 1)]["variance"] == 1.0       # E[v^2]-E[v]^2 = 5-4
    assert out[(7, 2)]["centroid"] == 0.0 and out[(7, 2)]["variance"] == 0.0
    assert out[(8, 1)]["n"] == 1 and out[(8, 1)]["variance"] == 0.0
    assert len(out) == 4                        # 2 labels x 2 dims


def test_autocorr_perfect_square_branch_cross_engine(spark, tmp_path):
    """events_hourly_autocorr's perfect-square guard: hourly counts
    [1,2,2,1] make d1 = d2 = 2, so d1·d2 = 4 = 2² and r = −1/2 is an
    exact RATIONAL — the branch where ROUND(double) would be exposed to
    half-grid ties and both engines must instead round via
    ratio_round. Pin that both engines take the branch and agree."""
    import datetime as dt

    from streamlit_projet_spark_streaming_spark.registry import REGISTRY
    from .oracle_harness import compare, duckdb_conn

    rows = []
    eid = 0
    for hour, cnt in enumerate([1, 2, 2, 1]):
        for i in range(cnt):
            rows.append(
                (
                    eid,
                    dt.datetime(2024, 1, 1, hour, 5 + i),
                    1,
                    "click",
                    1.0,
                    "{}",
                )
            )
            eid += 1
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    sf = str(tmp_path / "fixture")
    os.makedirs(sf, exist_ok=True)
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, os.path.join(sf, "events.parquet"))

    out = REGISTRY["events_hourly_autocorr"].builder(spark, sf)
    got = out.collect()
    assert len(got) == 1 and got[0]["r1"] == -0.5, got

    con = duckdb_conn(sf)
    problems = compare(
        out, con, REGISTRY["events_hourly_autocorr"].oracle, "autocorr_sq"
    )
    assert not problems, problems


def test_compression_signals_bounds_and_ordering(spark):
    """zlib compressibility: repetitive text compresses far below prose,
    ratios stay in (0, 1.5], the integer fields are consistent, and the
    rounding replicates ratio_round's half-away semantics."""
    from streamlit_projet_spark_streaming_spark.operators.text import (
        compression_signals,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 20),
            (2, "ab " * 300),
            (3, "z"),
            (4, ""),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in compression_signals(docs).collect()}
    assert rows[2]["compression_ratio"] < rows[1]["compression_ratio"]
    assert rows[2]["repetitive"] and not rows[3]["repetitive"]
    for r in rows.values():
        assert 0 < r["compressed_bytes"]
        assert 0 < r["compression_ratio"] <= 1.5 or r["raw_bytes"] <= 2
        n = max(r["raw_bytes"], 1)
        c = r["compressed_bytes"]
        p = 10**4
        assert r["compression_ratio"] == ((c * 2 * p + n) // (2 * n)) / p

    # Deterministic run-to-run (pinned zlib build).
    again = {r["doc_id"]: r for r in compression_signals(docs).collect()}
    assert {k: tuple(v) for k, v in rows.items()} == {
        k: tuple(v) for k, v in again.items()
    }
