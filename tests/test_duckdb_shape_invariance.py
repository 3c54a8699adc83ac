"""Fast subset of ``python tools/audit.py duckdb-shape``: representative oracles
must produce an identical canonicalized multiset under different DuckDB
execution shapes (thread count / insertion-order preservation).

DuckDB parallelizes aggregation across morsels, so double SUM/AVG/corr
is evaluated in a host-dependent order; float addition is
non-associative and the driver host's core count is not ours. This is
the oracle-side twin of the Spark partition-invariance gate: an oracle
whose output depends on summation order is a passes-locally-fails-there
failure that every same-shape local sweep misses. The full 303-entry × 3
shape sweep is ``python tools/audit.py duckdb-shape``; this subset re-checks
one representative per float-aggregation risk class each round on the
round's own (regenerated) fixtures.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_CORRECT
from tests.oracle_harness import duckdb_conn
from tools.audit import SHAPES, shape_problems

# one representative per float-aggregation risk class
ENTRIES = [
    # Pearson correlation over double measures (cross-row double sums)
    "daily_click_purchase_corr",
    # stddev / explicit moments
    "price_dispersion_stats",
    # Shannon entropy: Σ p·ln(p) over per-user distributions
    "events_user_entropy",
    # TF-IDF double products + rank selection off the scores
    "text_tfidf_top_terms",
    # CDF accumulation over a value grid (cumulative double sums)
    "events_value_wasserstein",
    # log-discount double sums + rank metrics
    "retrieval_ndcg",
    # least-squares fit over log-log points (double dot products)
    "corpus_zipf_fit",
    # PSI: Σ (p-q)·ln(p/q) over buckets
    "embedding_psi_drift",
    # weighted double averages over calibration bins
    "classifier_ece",
    # decimal-grid discipline control (stable_avg — must stay exact)
    "pricing_summary",
    # lag-k autocorrelation over an hourly series
    "events_hourly_autocorr",
    # weight-of-evidence: grouped log-ratios of count fractions
    "acctbal_woe_iv",
    # lag window + per-gap generate_series unnest (r8 gapfill rewrite)
    "events_hourly_gapfill_locf",
]


@pytest.fixture(scope="module")
def shaped_cons():
    return [(name, duckdb_conn(SF_CORRECT, config=cfg)) for name, cfg in SHAPES]


def _oracles():
    import __spark_entry__ as e

    oracles = e.oracle_sql()
    missing = [n for n in ENTRIES if n not in oracles]
    assert not missing, f"stale ENTRIES list: {missing}"
    return oracles


@pytest.mark.parametrize("name", ENTRIES)
def test_oracle_invariant_under_duckdb_shape(name, shaped_cons):
    sql = _oracles()[name]
    problems = shape_problems(shaped_cons, sql)
    assert not problems, f"{name}: {problems}"
