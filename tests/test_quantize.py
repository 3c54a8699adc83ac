"""Semantics tests for embedding quantization (operators/quantize.py):
properties the DuckDB oracle can't express — reconstruction error bounds,
code ranges, and PQ distortion optimality."""

import numpy as np
import pytest

from streamlit_projet_spark_streaming_spark.operators import quantize
from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

from .conftest import SF_CORRECT


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, "embeddings", SF_CORRECT)


def test_quantize_codes_range_and_roundtrip(spark, emb):
    stats = {
        r["dim"]: (r["mn"], r["mx"])
        for r in quantize.dim_stats(emb).collect()
    }
    out = quantize.quantize_embeddings(emb).collect()
    raw = {r["vec_id"]: r["embedding"] for r in emb.collect()}
    assert len(out) == len(raw)
    for row in out:
        codes = np.asarray(row["codes"])
        x = np.asarray(raw[row["vec_id"]], dtype=np.float64)
        assert codes.min() >= 0 and codes.max() <= 255
        assert len(codes) == len(x)
        # Dequantized midpoint is within one quantization step of x.
        for d, (c, xv) in enumerate(zip(codes, x)):
            mn, mx = stats[d]
            step = (mx - mn) / 255.0
            assert mn + c * step <= xv + 1e-12
            assert xv <= mn + (c + 1) * step + 1e-12


def test_pq_distortion_is_min_over_codebook(spark, emb):
    """The chosen centroid per subspace achieves the minimal exact integer
    distance — recompute distances in numpy from the quantized codes and
    the deterministic md5-anchor codebook."""
    codes = {
        r["vec_id"]: np.asarray(r["codes"], dtype=np.int64)
        for r in quantize.quantize_embeddings(emb).collect()
    }
    import hashlib

    anchors = sorted(
        codes, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:16]
    cb = np.stack([codes[v] for v in anchors])
    out = quantize.pq_codes(emb).collect()
    assert len(out) == len(codes)
    for row in out[:100]:
        x = codes[row["vec_id"]]
        d2 = ((x[None, :] - cb) ** 2).reshape(16, 8, 8).sum(axis=2)  # (J, M)
        best = d2.min(axis=0)
        chosen = np.asarray(row["pq_codes"])
        assert len(chosen) == 8
        got = d2[chosen, np.arange(8)]
        assert (got == best).all(), "non-minimal centroid chosen"
        # Tie-break: the chosen index is the SMALLEST achieving the min.
        for m in range(8):
            assert chosen[m] == int(np.argmin(d2[:, m]))
        assert row["distortion"] == int(best.sum())


def test_quantize_constant_dimension_is_zero(spark):
    df = spark.createDataFrame(
        [(1, [0.5, 1.0]), (2, [0.5, 2.0])], "vec_id long, embedding array<float>"
    )
    out = {r["vec_id"]: r["codes"] for r in quantize.quantize_embeddings(df).collect()}
    assert out[1][0] == 0 and out[2][0] == 0  # constant dim -> code 0
    assert out[1][1] == 0 and out[2][1] == 255  # min/max of the live dim


def test_pq_topk_finds_planted_duplicates(spark, emb):
    """A verbatim duplicate has the query's own int8 codes, hence the PQ
    code that MINIMIZES every per-subspace ADC table entry — so its total
    distance achieves the global minimum and it must appear in the top-k
    (ties can only add equals, and k=5 > plausible tie mass)."""
    from pyspark.sql import functions as F

    base = emb.filter(F.col("vec_id") >= 100)
    dups = (
        emb.filter(F.col("vec_id") < 5)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label")
    )
    corpus = base.unionByName(emb.filter(F.col("vec_id") < 5)).unionByName(dups)
    out = quantize.pq_topk(corpus, F.col("vec_id") < 5, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    hits = 0
    for q, rows in by_q.items():
        assert len(rows) == 5
        ids = {r["neighbor_id"] for r in rows}
        if q + 1_000_000 in ids:
            hits += 1
            dup_dist = next(
                r["dist"] for r in rows if r["neighbor_id"] == q + 1_000_000
            )
            assert dup_dist == min(r["dist"] for r in rows)
    assert hits == 5, f"planted duplicate missing from top-5 for {5 - hits} queries"


def test_ivfpq_with_full_probe_equals_pq_topk(spark, emb):
    """nprobe = |cells| probes every inverted list, so IVFPQ must reduce
    exactly to the flat PQ ADC search — same neighbors, distances, ranks."""
    from pyspark.sql import functions as F

    n_cells = emb.filter((F.col("vec_id") % 25) == 0).count()
    flat = {
        (r["query_id"], r["neighbor_id"], r["dist"], r["rnk"])
        for r in quantize.pq_topk(emb, F.col("vec_id") < 10, k=5).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["dist"], r["rnk"])
        for r in quantize.ivfpq_topk(
            emb, F.col("vec_id") < 10, k=5, nprobe=n_cells
        ).collect()
    }
    assert full == flat


def test_ivfpq_candidates_come_from_probed_cells(spark, emb):
    """Every reported neighbor must live in one of its query's nprobe
    probed cells (the invariant that bounds per-query work)."""
    from pyspark.sql import functions as F
    from streamlit_projet_spark_streaming_spark.operators.similarity import ivf_assign

    centroids = emb.filter((F.col("vec_id") % 25) == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, centroids).select("vec_id", "centroid_id").collect()
    }
    out = quantize.ivfpq_topk(emb, F.col("vec_id") < 10, k=5, nprobe=2).collect()
    # Probes are the top-2 cells by the same assignment scoring; the
    # query's own cell is always rank 1, so at minimum every neighbor
    # shares a cell with SOME probed cell — verify via the operator's
    # own probe logic by recomputing membership per query.
    probed: dict[int, set] = {}
    for r in out:
        probed.setdefault(r["query_id"], set()).add(cells[r["neighbor_id"]])
    for q, used in probed.items():
        assert len(used) <= 2, f"query {q} drew neighbors from {len(used)} cells"


def test_pq_topk_honors_n_sub(spark, emb):
    """Regression: the ADC subspace index is derived from (D, n_sub), not
    hardcoded to width-8 blocks — distances at n_sub=4 must match a numpy
    recomputation over 16-dim blocks."""
    import hashlib

    from pyspark.sql import functions as F

    codes = {
        r["vec_id"]: np.asarray(r["codes"], dtype=np.int64)
        for r in quantize.quantize_embeddings(emb).collect()
    }
    anchors = sorted(
        codes, key=lambda v: (hashlib.md5(str(v).encode()).hexdigest(), v)
    )[:16]
    cb = np.stack([codes[v] for v in anchors])
    out = quantize.pq_topk(emb, F.col("vec_id") < 3, k=5, n_sub=4).collect()
    pq = {
        r["vec_id"]: np.asarray(r["pq_codes"])
        for r in quantize.pq_codes(emb, n_sub=4).collect()
    }
    for row in out:
        q, n = row["query_id"], row["neighbor_id"]
        # ADC distance: query int8 codes vs the neighbor's chosen
        # centroids, per 16-dim block.
        d2 = ((codes[q][None, :] - cb) ** 2).reshape(16, 4, 16).sum(axis=2)
        expect = int(d2[pq[n], np.arange(4)].sum())
        assert row["dist"] == expect, (q, n, row["dist"], expect)


def test_pq_trained_distortion_monotone(spark, emb):
    """Lloyd from the anchor-codebook init can only lower the objective:
    total distortion(trained, i iterations) <= distortion(anchors), and
    iteration 2 <= iteration 1. The margins are huge (~20% per step on
    the fixture), so float summation noise is irrelevant."""
    from pyspark.sql import functions as F

    anchor = (
        quantize.pq_codes(emb).agg(F.sum("distortion").alias("s")).collect()[0]["s"]
    )
    t1 = (
        quantize.pq_codes_trained(emb, n_iter=1)
        .agg(F.sum("distortion").alias("s"))
        .collect()[0]["s"]
    )
    t2 = (
        quantize.pq_codes_trained(emb, n_iter=2)
        .agg(F.sum("distortion").alias("s"))
        .collect()[0]["s"]
    )
    assert t1 <= anchor * (1 + 1e-9)
    assert t2 <= t1 * (1 + 1e-9)


def test_pq_trained_codes_shape(spark, emb):
    out = quantize.pq_codes_trained(emb, n_iter=1).collect()
    assert len(out) == emb.count()
    for r in out[:50]:
        assert len(r["pq_codes"]) == 8
        assert all(0 <= c < 16 for c in r["pq_codes"])
        assert r["distortion"] >= 0.0


def test_ivfpq_residual_finds_planted_duplicates(spark, emb):
    """A verbatim duplicate of the query has the identical coarse cell
    and the identical residual, so its PQ code achieves the per-block
    minimum of the query's ADC table — a global lower bound on the ADC
    distance. It must therefore appear in the top-k with the minimal
    distance."""
    from pyspark.sql import functions as F

    base = emb.filter(F.col("vec_id") >= 100)
    dups = emb.filter(F.col("vec_id") < 5).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding", "label"
    )
    corpus = base.unionByName(emb.filter(F.col("vec_id") < 5)).unionByName(dups)
    out = quantize.ivfpq_topk_residual(corpus, F.col("vec_id") < 5, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    hits = 0
    for q, rows in by_q.items():
        ids = {r["neighbor_id"] for r in rows}
        if q + 1_000_000 in ids:
            hits += 1
            dup_dist = next(
                r["dist"] for r in rows if r["neighbor_id"] == q + 1_000_000
            )
            assert dup_dist <= min(r["dist"] for r in rows) + 1e-9
    assert hits == 5, f"planted duplicate missing from top-5 for {5 - hits} queries"


def test_ivfpq_residual_candidates_from_probed_cells(spark, emb):
    """Neighbors must come from at most nprobe cells per query — the
    invariant that bounds per-query work at scale."""
    from pyspark.sql import functions as F
    from streamlit_projet_spark_streaming_spark.operators.similarity import ivf_assign

    centroids = emb.filter((F.col("vec_id") % 25) == 0).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("c_emb")
    )
    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, centroids).select("vec_id", "centroid_id").collect()
    }
    out = quantize.ivfpq_topk_residual(
        emb, F.col("vec_id") < 10, k=5, nprobe=2
    ).collect()
    probed: dict[int, set] = {}
    for r in out:
        probed.setdefault(r["query_id"], set()).add(cells[r["neighbor_id"]])
    for q, used in probed.items():
        assert len(used) <= 2, f"query {q} drew neighbors from {len(used)} cells"


def test_binary_codes_match_numpy_pack(spark):
    import numpy as np

    from streamlit_projet_spark_streaming_spark.operators.quantize import binary_codes
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    emb = load_table(spark, "embeddings", SF_CORRECT)
    rows = emb.select("vec_id", "embedding").collect()
    got = {r["vec_id"]: (r["b_lo"], r["b_hi"]) for r in binary_codes(emb).collect()}
    w = 2 ** np.arange(32, dtype=np.int64)
    for r in rows:
        x = np.asarray(r["embedding"], dtype=np.float64)
        bits = (x > 0).astype(np.int64)
        assert got[r["vec_id"]] == (int(bits[:32] @ w), int(bits[32:] @ w))


def test_hamming_topk_finds_exact_duplicate_first(spark):
    from streamlit_projet_spark_streaming_spark.operators.quantize import hamming_topk
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", SF_CORRECT).select("vec_id", "embedding")
    # Clone vec 3 as vec_id 100000: its code is identical, so Hamming 0
    # must rank it first for query 3 (ties on id cannot beat 0).
    dup = emb.filter(F.col("vec_id") == 3).select(
        F.lit(100000).cast("long").alias("vec_id"), "embedding"
    )
    out = hamming_topk(emb.unionByName(dup), F.col("vec_id") == 3, k=3)
    top = {r["rnk"]: r for r in out.collect()}
    assert top[1]["neighbor_id"] == 100000 and top[1]["hamming"] == 0


def test_lloyd_partials_rejects_ragged_batch():
    """Codes whose dimension differs from the codebook's raise ValueError,
    which survives ``python -O`` (a bare assert would not)."""
    import pandas as pd

    cb = [[0.0, 0.0, 0.0, 0.0], [1.0, 1.0, 1.0, 1.0]]
    pdf = pd.DataFrame({"cb": [cb, cb], "codes": [[1, 2], [3, 4]]})
    with pytest.raises(ValueError, match="code dim 2 != codebook dim 4"):
        next(quantize._lloyd_partials_mapper(n_sub=2)(iter([pdf])))
