"""Behavioral tests for the round-3 operator registrations: planted-PII
scan, planted benchmark contamination, pack-boundary straddle semantics,
and RANGE-frame tie consistency. (The oracle-differential checks for the
same operators run in test_correctness.py; these tests pin the SEMANTICS
on hand-built fixtures where the expected answer is known by construction.)
"""

import hashlib

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators import dedup, sampling, text
from streamlit_projet_spark_streaming_spark.operators import relational as rel
from streamlit_projet_spark_streaming_spark.operators.relational import (
    rolling_time_features,
)


def _bucket(doc_id, salt):
    """Python replica of sampling.hash_bucket (md5 hex prefix % N)."""
    h = hashlib.md5(f"{salt}:{doc_id}".encode()).hexdigest()
    return int(h[:7], 16) % sampling.N_BUCKETS


def test_pii_scan_counts_and_redaction(spark):
    docs = spark.createDataFrame(
        [
            (1, "Contact Bob at bob.smith@example.com or +1 (555) 123-4567"),
            (2, "server at 10.0.0.1 and backup at 192.168.1.200"),
            (3, "no sensitive content here at all"),
            (4, "two mails: a@b.io c@d.org"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in text.pii_scan(docs).collect()}
    assert out[1]["n_email"] == 1 and out[1]["n_phone"] >= 1
    assert out[1]["has_pii"]
    assert out[2]["n_ipv4"] == 2 and out[2]["has_pii"]
    assert out[3]["n_email"] == out[3]["n_ipv4"] == out[3]["n_phone"] == 0
    assert not out[3]["has_pii"]
    assert out[4]["n_email"] == 2
    # redaction fingerprint: clean docs hash their normalized text
    # unchanged; dirty docs hash something else (the redacted form)
    clean_fp = docs.filter(F.col("doc_id") == 3).select(
        F.md5(dedup._norm(F.col("text")))
    ).first()[0]
    assert out[3]["redacted_fp"] == clean_fp
    dirty_fp = docs.filter(F.col("doc_id") == 1).select(
        F.md5(dedup._norm(F.col("text")))
    ).first()[0]
    assert out[1]["redacted_fp"] != dirty_fp


def test_benchmark_contamination_planted(spark):
    """Plant a corpus doc that copies a benchmark doc's text: its 5-gram
    overlap must be 1.0 and flagged; an unrelated corpus doc must be
    0.0 and unflagged. Bench membership is the deterministic hash split,
    so the fixture picks ids whose bucket is known a priori."""
    salt, buckets = "bench", dedup.CONTAM_BENCH_BUCKETS
    bench_id = next(i for i in range(1, 10_000) if _bucket(i, salt) < buckets)
    corp = [i for i in range(1, 10_000) if _bucket(i, salt) >= buckets]
    copied_id, fresh_id, short_id = corp[0], corp[1], corp[2]
    leaked = "the quick brown fox jumps over the lazy dog tonight"
    fresh = "completely different words that never appear in any benchmark entry"
    docs = spark.createDataFrame(
        [
            (bench_id, leaked),
            (copied_id, leaked),
            (fresh_id, fresh),
            (short_id, "too few words"),  # < 5 words: no shingles, no row
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.benchmark_contamination(docs).collect()
    }
    assert set(out) == {copied_id, fresh_id}
    assert out[copied_id]["contamination_ratio"] == 1.0
    assert out[copied_id]["flagged"]
    assert out[fresh_id]["n_contaminated"] == 0
    assert not out[fresh_id]["flagged"]


def test_greedy_pack_boundary_straddle(spark, monkeypatch):
    """A document whose tokens straddle the pack budget belongs to the
    pack its FIRST token lands in (fixed-stride packing semantics)."""
    rows = [(i, 100) for i in range(1, 8)]  # 7 docs x 100 tokens, budget 256
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"])
    assert sampling.PACK_BUDGET == 256
    monkeypatch.setattr(sampling, "PACK_BUCKETS", 1)
    out = {
        r["doc_id"]: r["pack_ix"]
        for r in sampling.greedy_pack(df, "doc_id", "n_tokens").collect()
    }
    # prefixes 0,100,200,300,...,600 -> packs 0,0,0(straddles 256),1,1,1,2
    assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1, 7: 2}


def test_rolling_time_features_tie_consistency(spark):
    """RANGE frames: events sharing a timestamp see IDENTICAL frames
    (both sides of the tie include each other), unlike ROWS frames."""
    rows = [
        (1, "u", "2024-01-01 10:00:00", 1.0),
        (2, "u", "2024-01-01 10:30:00", 2.0),
        (3, "u", "2024-01-01 10:30:00", 3.0),  # tie with event 2
        (4, "u", "2024-01-01 11:45:00", 4.0),  # > 1h after 10:30, <1h after... no: 75min
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "ts_s", "value"]
    ).withColumn("ts", F.to_timestamp("ts_s"))
    out = {
        r["event_id"]: r
        for r in rolling_time_features(
            df, "user_id", "ts", "value", "event_id"
        ).collect()
    }
    # tied events 2 and 3 must agree exactly
    assert out[2]["n_trailing"] == out[3]["n_trailing"] == 3
    assert out[2]["sum_value_trailing"] == out[3]["sum_value_trailing"] == 6.0
    # event 4: 75 min after the ties, 105 after event 1 -> only itself
    assert out[4]["n_trailing"] == 1 and out[4]["sum_value_trailing"] == 4.0


def test_boilerplate_phrases_planted(spark, monkeypatch):
    """A phrase planted in >= min_docs docs is mined; a rarer one is not;
    ties order by phrase text and k caps the output."""
    boiler = "all rights reserved"
    docs = spark.createDataFrame(
        [(i, f"unique words {i} here {boiler} tail{i}") for i in range(1, 5)]
        + [(9, "no shared content in this one at all")],
        ["doc_id", "text"],
    )
    monkeypatch.setattr(text, "BOILERPLATE_MIN_DOCS", 4)
    out = text.boilerplate_phrases(docs).collect()
    phrases = {r["phrase"]: r["n_docs"] for r in out}
    assert phrases[boiler] == 4
    assert all(n >= 4 for n in phrases.values())
    monkeypatch.setattr(text, "BOILERPLATE_MIN_DOCS", 1)
    monkeypatch.setattr(text, "BOILERPLATE_K", 2)
    capped = text.boilerplate_phrases(docs).collect()
    assert len(capped) == 2
    # with every n_docs tied at the cap boundary, phrase text breaks ties
    assert capped == sorted(capped, key=lambda r: (-r["n_docs"], r["phrase"]))


def test_span_dup_profile_planted(spark):
    """A verbatim copy shares 100% of its spans; a unique doc 0%; a doc
    too short for any 5-gram still gets a (0, 0, 0.0) row."""
    shared = "one two three four five six seven"
    docs = spark.createDataFrame(
        [
            (1, shared),
            (2, shared),
            (3, "totally different words appear in this document body"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in dedup.span_dup_profile(docs).collect()}
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_spans"] == 3  # 7 words -> 3 distinct 5-grams
    assert out[1]["shared_span_frac"] == 1.0 == out[2]["shared_span_frac"]
    assert out[3]["n_shared_spans"] == 0 and out[3]["shared_span_frac"] == 0.0
    assert out[4]["n_spans"] == 0 and out[4]["shared_span_frac"] == 0.0


def test_source_cap_semantics(spark):
    """Each stratum keeps exactly min(cap, n) rows; ranks are a
    permutation of 1..n per stratum; assignment is deterministic."""
    rows = [(i, "big") for i in range(1, 21)] + [(100 + i, "small") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = sampling.source_cap(df, "source", "doc_id", cap=5).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert sorted(r["rnk"] for r in by_src["big"]) == list(range(1, 21))
    assert sum(r["kept"] for r in by_src["big"]) == 5
    assert sum(r["kept"] for r in by_src["small"]) == 3  # under cap: all kept
    again = sampling.source_cap(df, "source", "doc_id", cap=5).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_temperature_weights_rebalances(spark):
    """alpha=0.5 boosts rare strata above 1x and dampens dominant ones
    below 1x; both share columns sum to ~1."""
    rows = [(i, "en") for i in range(900)] + [(1000 + i, "yo") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = {r["lang"]: r for r in sampling.temperature_weights(df, "lang").collect()}
    assert out["yo"]["boost"] > 1.0 > out["en"]["boost"]
    assert abs(out["en"]["p"] + out["yo"]["p"] - 1.0) < 1e-3
    assert abs(out["en"]["w_temp"] + out["yo"]["w_temp"] - 1.0) < 1e-3
    # natural share preserved for dominant, amplified for rare
    assert out["yo"]["w_temp"] > out["yo"]["p"]


def test_grouped_rank_tiles_equals_plain_row_number(spark, monkeypatch):
    """The distributed rank (higher-count + within-score ordinal) must be
    IDENTICAL to ROW_NUMBER over the global order, ties included, and the
    tile formula must cut where floor((rnk-1)*k/n) says."""
    from pyspark.sql import Window

    rows = [(i, float(s)) for i, s in enumerate([5, 5, 4, 4, 4, 3, 2, 2, 1, 0])]
    df = spark.createDataFrame(rows, ["doc_id", "score"])
    monkeypatch.setattr(rel, "RANK_TILES", 4)
    got = {
        r["doc_id"]: r
        for r in rel.grouped_rank_tiles(df, "score", "doc_id").collect()
    }
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    expect = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id", F.row_number().over(w).alias("rnk")
        ).collect()
    }
    n = len(rows)
    for doc_id, e in expect.items():
        assert got[doc_id]["rnk"] == e["rnk"]
        assert got[doc_id]["tile"] == (e["rnk"] - 1) * 4 // n


def test_unigram_logprob_hand_computed(spark):
    """Hand-computed unigram NLL on a 2-doc corpus: vocab a:3 b:1 c:1,
    total 5; rare words score higher than common ones."""
    import math

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in text.unigram_logprob(docs).collect()}
    nll = lambda c: -math.log(c / 5)
    exp1 = round((2 * round(nll(3), 6) + round(nll(1), 6)) / 3, 4)
    exp2 = round((round(nll(3), 6) + round(nll(1), 6)) / 2, 4)
    assert out[1]["n_tokens"] == 3 and out[1]["avg_nll"] == exp1
    assert out[2]["n_tokens"] == 2 and out[2]["avg_nll"] == exp2
    # doc 2 leans on the rare 'c' -> higher avg NLL than doc 1
    assert out[2]["avg_nll"] > out[1]["avg_nll"]


def test_funnel_steps_ordering_semantics(spark):
    """Funnel counts stage completion IN ORDER: a click before the first
    view does not convert; same-timestamp completion does."""
    import datetime as dt

    t = lambda m: dt.datetime(2026, 1, 1, 0, m)
    rows = [
        # user 1: full ordered funnel
        (1, "view", t(0)), (1, "click", t(1)), (1, "purchase", t(2)),
        # user 2: view only
        (2, "view", t(0)),
        # user 3: click BEFORE its only view; purchase without click-after-view
        (3, "click", t(0)), (3, "view", t(1)), (3, "purchase", t(2)),
        # user 4: no view at all
        (4, "purchase", t(0)),
        # user 5: same-timestamp view+click converts (>= semantics)
        (5, "view", t(0)), (5, "click", t(0)),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "event_type", "ts"])
    out = rel.funnel_steps(ev).collect()[0]
    assert out["n_users"] == 5
    assert out["n_view"] == 4          # users 1, 2, 3, 5
    assert out["n_click"] == 2         # users 1, 5 (user 3's click precedes its view)
    assert out["n_purchase"] == 1      # user 1
    assert out["rate_view"] == 0.8
    assert out["rate_click"] == 0.5
    assert out["rate_purchase"] == 0.5


def test_semantic_dedup_planted_recall(spark):
    """Planted perturbed copies are dropped with dup_of = the original;
    the untouched random corpus is kept (no false positives at 0.95)."""
    from streamlit_projet_spark_streaming_spark.operators import similarity as sim
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from tests.conftest import SF_CORRECT
    emb = load_table(spark, "embeddings", SF_CORRECT)
    corpus = sim.planted_near_dup_corpus(emb)
    out = sim.semantic_dedup(corpus).collect()
    assert len(out) == corpus.count()
    by_id = {r["vec_id"]: r for r in out}
    planted = [by_id[1_000_000 + i] for i in range(50)]
    dropped = [r for r in planted if not r["kept"]]
    # k-means puts a near-identical copy in its original's cluster
    assert len(dropped) >= 45
    assert all(r["dup_of"] == r["vec_id"] - 1_000_000 for r in dropped)
    base_kept = [r for r in out if r["vec_id"] < 1_000_000]
    assert all(r["kept"] for r in base_kept)


def test_chunk_documents_coverage_and_overlap(spark):
    """Every word lands in >=1 chunk; consecutive chunks overlap by
    chunk_tokens - stride; reassembling strided prefixes recovers the
    document exactly."""
    from streamlit_projet_spark_streaming_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = sorted(
        chunk_documents(df).collect(),
        key=lambda r: r["chunk_idx"],
    )
    assert [r["chunk_idx"] for r in out] == [0, 1, 2, 3]
    words = text.split()
    for r in out:
        start = r["chunk_idx"] * 12
        assert r["chunk_text"].split() == words[start : start + 16]
        assert r["n_tokens"] == len(words[start : start + 16])
    # Overlap: chunk i shares its last 4 tokens with chunk i+1's head.
    for a, b in zip(out, out[1:]):
        assert a["chunk_text"].split()[12:] == b["chunk_text"].split()[:4]
    # Reassembly from strided prefixes is lossless.
    rebuilt = []
    for r in out:
        rebuilt.extend(r["chunk_text"].split()[:12])
    assert rebuilt[: len(words)] == words or rebuilt == words[: len(rebuilt)]
    # Short doc: one chunk, verbatim.
    short = chunk_documents(
        spark.createDataFrame([(2, "a b c")], "doc_id long, text string")
    ).collect()
    assert len(short) == 1 and short[0]["chunk_text"] == "a b c"
