"""Misra-Gries heavy-hitter guarantee vs exact counts: the two-pass
``provable_heavy_hitters`` keeps exactly the keys the MG bound proves
heavy, at their exact counts, whatever the partitioning."""

from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators import sketch
from streamlit_projet_spark_streaming_spark.operators.sketch import (
    provable_heavy_hitters,
)
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_CORRECT

K = 50


def test_mg_guarantee_against_exact_counts(spark, monkeypatch):
    """With K counters every key whose true count exceeds N/(K+1)
    survives the MG candidate pass (the sketch's lower bound), so the
    output is exactly those keys at their exact counts. No fixture user
    is that heavy, so one planted user is, spread round-robin over the
    partitions among the fixture's rows."""
    fixture = load_table(spark, "events", SF_CORRECT).select("user_id")
    planted = spark.range(400).select(
        F.lit(-1).cast(fixture.schema["user_id"].dataType).alias("user_id")
    )
    events = fixture.unionByName(planted).repartition(3)
    exact = {
        r["user_id"]: r["c"]
        for r in events.groupBy("user_id").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    n = sum(exact.values())
    monkeypatch.setattr(sketch, "HEAVY_HITTERS_K", K)
    out = {
        int(r["key"]): r["true_count"]
        for r in provable_heavy_hitters(events, F.col("user_id")).collect()
    }
    heavy = {key: c for key, c in exact.items() if c * (K + 1) > n}
    assert heavy == {-1: 400}
    assert out == heavy


def test_provable_heavy_hitters_partition_independent(spark):
    """The two-pass provably-heavy output is a pure function of the data:
    identical across radically different partitionings, and exactly the
    keys with true_count*(k+1) > N at their exact counts."""
    events = load_table(spark, "events", SF_CORRECT)
    k = sketch.HEAVY_HITTERS_K
    base = provable_heavy_hitters(events, F.col("event_type")).collect()
    shuffled = provable_heavy_hitters(
        events.repartition(13, F.col("value")), F.col("event_type")
    ).collect()
    assert [tuple(r) for r in base] == [tuple(r) for r in shuffled]
    exact = {
        r["event_type"]: r["c"]
        for r in events.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    n = sum(exact.values())
    expected = sorted(
        ((key, c) for key, c in exact.items() if c * (k + 1) > n),
        key=lambda kv: (-kv[1], kv[0]),
    )
    assert [tuple(r) for r in base] == expected
    assert expected, "fixture should yield a non-empty provably-heavy set"


def test_hll_estimate_accuracy_vs_exact(spark):
    """Portable HLL: per-type estimate within 4 standard errors
    (1.04/sqrt(64) ≈ 13%) of the exact distinct count — the classical
    HLL guarantee band, wide enough to be deterministic-stable here
    (and the estimator itself is oracle-checked bit-exactly)."""
    from streamlit_projet_spark_streaming_spark.operators.sketch import (
        hll_distinct_estimate,
    )
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    from .conftest import SF_CORRECT

    events = load_table(spark, "events", SF_CORRECT)
    est = {
        r["grp"]: r["est_distinct"]
        for r in hll_distinct_estimate(
            events, F.col("user_id"), F.col("event_type")
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for k, e in est.items():
        rel = abs(e - exact[k]) / exact[k]
        assert rel < 4 * 1.04 / 8, f"{k}: est {e} vs exact {exact[k]} ({rel:.2%})"


def test_hll_set_algebra_accuracy(spark):
    """Planted A/B sets with known overlap: all four estimates land
    within the HLL error band (~1.04/sqrt(64) ≈ 13% SE; allow 4 SE)
    and inclusion-exclusion is internally consistent."""
    from streamlit_projet_spark_streaming_spark.operators.sketch import (
        hll_set_algebra,
    )

    # |A| = 3000 (ids 0..2999), |B| = 3000 (ids 2000..4999), overlap 1000.
    rows = [(i, "a") for i in range(3000)] + [
        (i, "b") for i in range(2000, 5000)
    ]
    df = spark.createDataFrame(rows, "k long, s string")
    r = hll_set_algebra(
        df, F.col("k"), F.col("s") == "a", F.col("s") == "b"
    ).collect()[0]
    se = 1.04 / (64 ** 0.5)
    assert abs(r.est_a - 3000) <= 4 * se * 3000
    assert abs(r.est_b - 3000) <= 4 * se * 3000
    assert abs(r.est_union - 5000) <= 4 * se * 5000
    # overlap inherits the union's absolute error — band on |A∪B|.
    assert abs(r.est_overlap - 1000) <= 6 * se * 5000
    assert abs((r.est_a + r.est_b - r.est_union) - r.est_overlap) < 1e-6
