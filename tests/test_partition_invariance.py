"""Fast subset of ``python tools/audit.py partition``: representative entries must
match their DuckDB oracle under adversarial parallelism settings.

The driver's session shape (cores, shuffle partitions, Arrow batch
size, AQE decisions) is not ours to choose and WILL differ at 100 TB —
any output that depends on partition count, input-split packing, or
Arrow batch boundaries is a latent passes-locally-fails-there red (the
r5 EliminateSorts/collect_list bug was exactly this class). The full
303-entry × 2-config sweep is ``python tools/audit.py partition``; this
subset re-checks one representative per risk class on every run against
the current fixtures, setting the axis's runtime SQL confs
(``PARTITION_CONFS``) on the shared session (master stays local[4];
core-count variation is CLI-only).
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE
from tests.oracle_harness import compare, duckdb_conn
from tools.audit import PARTITION_CONFS

# one representative per partition-sensitivity risk class
ENTRIES = [
    # aggregation-input order: ordered_array_agg under iterative CC
    "dedup_minhash_clusters",
    # window rewrite of multi-branch aggregation (preference views)
    "v_price_bucket_preferences",
    # lag/lead + ROWS frames (explicit single WindowExec)
    "user_event_sequences",
    # Arrow mapInPandas emitting per-batch partials (batch size changes
    # HOW MANY partials exist; the final aggregate must erase that)
    "similarity_topk_ivf_kmeans",
    # Arrow fold over a series (batch boundaries inside a time series)
    "events_holt_trend",
    # rank-k selection off a hash key (E-S weighted sampling)
    "dataset_weighted_sample",
    # window over an explicitly repartitioned gram stream
    "text_winnowing_fingerprints",
    # cumulative/CDF windows over a value grid
    "events_rolling_value_quantiles",
    # broadcast 1-row bounds (histogram binning)
    "histogram_event_value",
    # limit(k)-then-window anchor selection (ANN family)
    "similarity_topk_ivfpq_residual",
    # dense node index (de-single-partitioned in r7)
    "graph_negative_samples",
    # float aggregation on the decimal grid (stable_avg discipline)
    "pricing_summary",
    # vocabulary-bounded iterative fold (BPE merge chain)
    "text_bpe_apply",
    # per-gap bounded fill: explode of a computed sequence fed by an
    # unpartitioned lag window over the hour grid (r8 gapfill rewrite)
    "events_hourly_gapfill_locf",
]


@pytest.fixture(scope="module")
def oracle_con():
    con = duckdb_conn(SF_SMOKE)
    yield con
    con.close()


@pytest.fixture(params=sorted(PARTITION_CONFS), scope="module")
def hostile_spark(request, spark):
    """Shared session reconfigured via runtime SQL confs; restored after."""
    cfg = PARTITION_CONFS[request.param]
    saved = {}
    for k, v in cfg.items():
        saved[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", ENTRIES)
def test_partition_invariance(hostile_spark, oracle_con, name):
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    assert name in qs and name in oracles, f"{name} missing from registry"
    problems = compare(
        qs[name](hostile_spark, SF_SMOKE), oracle_con, oracles[name], name
    )
    assert not problems, problems
