"""Invariant tests for the deterministic sampling/split operators:
proportions, stability under corpus growth, and stratum exactness."""

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators import sampling
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_CORRECT


def test_hash_split_proportions_and_partition(spark):
    docs = load_table(spark, "documents", SF_CORRECT).select("doc_id")
    out = sampling.hash_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    total = sum(counts.values())
    assert total == docs.count()  # partition: every row in exactly one split
    # 500 docs: binomial tolerance, generous
    assert 0.8 <= counts.get("train", 0) / total <= 0.97
    assert counts.get("val", 0) / total <= 0.12
    assert counts.get("test", 0) / total <= 0.12


def test_hash_split_stable_under_growth(spark):
    """The leakage guard: a row's split NEVER changes when the corpus
    grows — assignment is a pure function of id."""
    docs = load_table(spark, "documents", SF_CORRECT).select("doc_id")
    subset = docs.filter(F.col("doc_id") < 100)
    full = {r.doc_id: r.split for r in sampling.hash_split(docs, "doc_id").collect()}
    small = {r.doc_id: r.split for r in sampling.hash_split(subset, "doc_id").collect()}
    assert small == {k: v for k, v in full.items() if k < 100}


def test_stratified_sample_exact_and_proportional(spark, monkeypatch):
    ev = load_table(spark, "events", SF_CORRECT).select("event_id", "event_type")
    monkeypatch.setattr(sampling, "STRATIFIED_DEFAULT_FRACTION", 0.0)
    kept = sampling.stratified_sample(
        ev, "event_type", {"purchase": 1.0, "click": 0.1}, id_col="event_id"
    )
    n_purchase = ev.filter(F.col("event_type") == "purchase").count()
    got = {r["event_type"]: r["n"] for r in kept.groupBy("event_type").agg(F.count("*").alias("n")).collect()}
    assert got.get("purchase") == n_purchase  # fraction 1.0 keeps ALL
    n_click = ev.filter(F.col("event_type") == "click").count()
    assert 0.03 <= got.get("click", 0) / n_click <= 0.2  # ~10%
    assert set(got) == {"purchase", "click"}  # default 0.0 drops the rest


def test_dsir_scores_unseen_buckets_with_smoothed_default(spark):
    """score_docs grams hashing to buckets absent from the model corpus
    must receive the add-1-smoothed zero-count ratio, not vanish from
    n_grams and the weight (ADVICE r5)."""
    import math

    from pyspark.sql import functions as F

    from streamlit_projet_spark_streaming_spark.operators.sampling import (
        dsir_importance_weights,
    )

    docs = spark.createDataFrame(
        [(1, "aaa bbb", "en"), (2, "ccc ddd", "fr")],
        "doc_id long, text string, lang string",
    )
    # A scored doc whose grams are entirely outside the model corpus.
    alien = spark.createDataFrame(
        [(99, "zzz qqq xxx")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in dsir_importance_weights(
            docs, target=F.col("lang") == "en", score_docs=alien
        ).collect()
    }
    assert 99 in out, "unseen-bucket doc dropped entirely"
    row = out[99]
    # 3 unigrams + 2 bigrams, all unseen (hash collisions with the tiny
    # model vocab are possible but astronomically unlikely at 4096 buckets)
    assert row.n_grams == 5, row
    # model totals: raw=6 grams (2 uni + 1 bi per doc), target=3
    from streamlit_projet_spark_streaming_spark.operators.sampling import DSIR_BUCKETS

    expected = round(
        5 * round(math.log((6 + DSIR_BUCKETS) / (3 + DSIR_BUCKETS)), 6), 4
    )
    assert abs(row.log_weight - expected) < 1e-9, (row.log_weight, expected)


def test_mixing_epochs_budget_and_cap(spark):
    docs = load_table(spark, "documents", SF_CORRECT)
    out = sampling.mixing_epochs(
        docs).toPandas()
    total = out.tokens.sum()
    # Budget conservation: per-stratum targets are exact roundings of
    # shares of B = 3 * total_tokens, so their sum is within |strata|/2
    # rounding units of the budget.
    assert abs(out.target_tokens.sum() - 3 * total) <= len(out)
    # Cap semantics: epochs never exceed 3.0; uncapped rows satisfy
    # epochs ≈ target/tokens at 1e-4 grid resolution.
    assert (out.epochs <= 3.0 + 1e-12).all()
    uncapped = out[out.epochs < 3.0]
    assert len(uncapped) > 0 and len(uncapped) < len(out), "both branches"
    import numpy as np

    expect = (uncapped.target_tokens / uncapped.tokens).to_numpy()
    assert np.allclose(uncapped.epochs.to_numpy(), expect, atol=6e-5)
    # Effective tokens reflect the cap: capped rows repeat fewer tokens
    # than their temperature target.
    capped = out[out.epochs == 3.0]
    assert (capped.effective_tokens <= capped.target_tokens).all()
    # Shares are probability vectors on the 1e-4 grid.
    assert abs(out.token_share.sum() - 1.0) <= 1e-3
    assert abs(out.w_temp.sum() - 1.0) <= 1e-3


def test_epoch_plan_matches_mixing_policy(spark):
    docs = load_table(spark, "documents", SF_CORRECT)
    mix = {
        r["source"]: r
        for r in sampling.mixing_epochs(
            docs).collect()
    }
    plan = sampling.epoch_plan(docs).toPandas()
    # Per-doc repeat indices are dense 0..n_rep-1.
    per_doc = plan.groupby("doc_id").repeat_idx.agg(["min", "max", "count"])
    assert (per_doc["min"] == 0).all()
    assert (per_doc["max"] == per_doc["count"] - 1).all()
    # Per-stratum realized repeats track epochs * n_docs within the
    # Bernoulli tolerance (hash buckets are uniform to ~1%).
    for src, g in plan.groupby("source"):
        expect = mix[src]["epochs"] * mix[src]["n_docs"]
        assert abs(len(g) - expect) <= max(3, 0.1 * expect), (src, len(g), expect)
    # Deterministic: a second run is identical.
    again = sampling.epoch_plan(docs).toPandas()
    a = sorted(map(tuple, plan[["doc_id", "repeat_idx", "order_key"]].values.tolist()))
    b = sorted(map(tuple, again[["doc_id", "repeat_idx", "order_key"]].values.tolist()))
    assert a == b


def test_bootstrap_ci_brackets_mean(spark):
    """Poisson-bootstrap sanity: a 95% CI from 100 replicates must be a
    proper nonempty interval and (for this fixture) bracket the full
    mean; both engines replay identical weights so this is
    deterministic, not flaky."""
    from streamlit_projet_spark_streaming_spark.registry import REGISTRY

    from .conftest import SF_CORRECT

    row = (
        REGISTRY["orders_bootstrap_ci"].builder(spark, SF_CORRECT).collect()[0]
    )
    assert row.ci_lo < row.ci_hi
    assert row.ci_lo <= row.mean_value <= row.ci_hi
    assert row.b_replicates == 100
