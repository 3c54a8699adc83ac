"""Round-6 continuation ops: the PCA spectrum audit on a planted corpus."""

import numpy as np


def test_pca_spectrum_planted_anisotropy(spark):
    """A corpus with variance concentrated on one axis leaves seven
    eigenvalues near zero — the case where fp jitter could push one
    below zero or out of order — and every audited invariant holds."""
    from streamlit_projet_spark_streaming_spark.operators.similarity import (
        pca_spectrum_audit,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(0, 0.01, size=(200, 8))
    base[:, 3] += rng.normal(0, 10.0, size=200)
    rows = [(i, [float(v) for v in base[i]], 0) for i in range(200)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    got = pca_spectrum_audit(df).collect()
    assert [r["component"] for r in got] == list(range(1, 9))
    for r in got:
        assert r["n_vectors"] == 200
        assert r["eig_nonneg"] and r["nonincreasing"]
        assert r["cum_ratio_bounded"] and r["eigsum_matches_trace"]
