"""Permanent guard for the degenerate-fixture class (r8): entries must
stay engine-consistent when the fixture contains edge-case rows the
driver's NEXT regeneration might ship — empty/whitespace/unicode docs,
zero or duplicate embedding vectors, boundary event values.

Full sweep: `python tools/audit.py degenerate` (all 303 entries, ~9 min)
— run it after substantive oracle work. This pytest covers the entries
that actually failed the r8 sweep (the ANSI DIVIDE_BY_ZERO family: one
zero-norm vector crashed all 22 cosine consumers; one n_chars=0 doc
crashed weighted sampling) plus one representative per text family, so
the class cannot silently regress.
"""

import pytest

from tools.audit import build_fixture

from .oracle_harness import compare, duckdb_conn

# The 22 r8 failures + representative text/dedup entries that consume
# the degenerate documents rows.
ENTRIES = [
    "dataset_weighted_sample",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "similarity_topk_ivf_kmeans",
    "similarity_topk_ivfpq_residual",
    "similarity_topk_matryoshka",
    "similarity_hard_negatives",
    "similarity_triplets",
    "retrieval_mmr_rerank",
    "retrieval_recall_hamming",
    "retrieval_rrf_fusion",
    "embedding_near_dup",
    "embedding_knn_graph",
    "embedding_knn_label_eval",
    "embedding_label_outliers",
    "embedding_semantic_dedup",
    "text_quality_classifier",
    "text_unigram_logprob",
    "text_word_pmi",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "corpus_dataset_card",
    # v2 (NULL-injection) catches — NULL text/lang/label/value rows:
    "embedding_cluster_cards",
    "events_value_auc",
    "events_value_ks_test",
    "events_ks_fdr",
    "events_value_wasserstein",
    "events_rolling_value_quantiles",
    "events_conformal_interval",
    "events_holt_trend",
    "multimodal_metadata",
    "multimodal_frames",
    "multimodal_resize_plan",
    "multimodal_features",
    "dataset_datacard",
    "quality_rank_deciles",
    "dedup_group_representatives",
    "text_chunking",
    # v4 (case-mapping probe row İ/Σ/ß/ﬁ) — representatives of every
    # surface that case-folds text (now ascii_lower) or counts tokens:
    "dedup_exact",
    "text_readability_scores",
    "text_tfidf_top_terms",
    "dataset_curriculum_head",
    # v4 emoji-probe catch: zero-width split tore surrogate pairs into
    # UTF-16 halves (now regexp_extract_all('[\s\S]') — code points):
    "text_bpe_apply",
    # v4 magnitude-probe catch: BIGINT overflow in per-user products
    # (now cast to DECIMAL before multiplying):
    "events_cuped",
    # v4 NaN-probe catches (13 ANSI cast crashes + 2 silent divergences
    # from one NaN value; now NULLed at the catalog boundary) —
    # representatives across the crash and divergence classes
    # (events_holt_trend / events_value_wasserstein already pinned in
    # the v2 block above):
    "histogram_event_value",
    "events_value_winsorize",
    # v5 malformed-props probe (json_valid + integral-string guard on
    # both engines) and size-dimension probes (~53k-char doc, 5000-char
    # single word) — representatives of per-doc linear machinery:
    "json_props_stats",
    "text_winnowing_fingerprints",
    "dedup_ngram_jaccard",
    "text_char_entropy",
    # the v5 long-doc CATCH: DuckDB's INT64 decimal-multiply kernel
    # overflowed on w*w once a term weight passed ~3035 (now widened to
    # the INT128 kernel via a DECIMAL(19,6) cast):
    "text_tfidf_knn",
    # v6 probes — non-finite embedding components (excluded at the
    # catalog boundary like zero vectors) and a NULL-ts event (dropped
    # at the boundary; must vanish from counts AND tie-breakers):
    "embedding_pq_codes",
    "latest_events",
    "hourly_series",
    "user_event_sequences",
    "data_quality_audit",
    # v7 time-extreme probes (epoch-0 / year-9999): the two gapfill
    # entries whose unbounded [min,max] hour spines the year-9999 row
    # OOM-killed — both now fill per-gap with an explicit hour cap:
    "hourly_series_gapfill",
    "events_hourly_gapfill_locf",
    # v8 TPC-H-side probes (NaN/NULL money, NULL order/ship dates,
    # orphan keys, zero/negative quantities, novel enums) — the six
    # catches: NULL measures entering order-statistic distributions
    # and rank windows (NULLS-placement splits), and the log-log
    # elasticity ANSI domain crash:
    "orders_exact_median_scalable",
    "orders_trimmed_mean_scalable",
    "orders_winsorized_stats",
    "price_histogram_equidepth",
    "customer_balance_rank_profile",
    "parts_price_elasticity",
    # representatives of the big consumer families over the probed
    # tables (money pipeline, acctbal features; the referential-audit
    # representative data_quality_audit is already pinned in the v6
    # block above):
    "pricing_summary",
    "acctbal_woe_iv",
    "regional_revenue",
    "segment_revenue",
    # v9 probes — NULL identity rows (dropped at the boundary on both
    # engines) and a NULL source (ATTRIBUTE — kept; source-grouped
    # rankings must treat the NULL group identically):
    "source_lang_entropy",
    "value_counts_event_type",
]


@pytest.fixture(scope="module")
def degen_dir(tmp_path_factory):
    # Own dir: the CLI sweep may rebuild /tmp/degen_sf concurrently and
    # parquet COPY is not atomic.
    return build_fixture(str(tmp_path_factory.mktemp("degen_sf")))


@pytest.mark.parametrize("name", ENTRIES)
def test_entry_survives_degenerate_rows(spark, degen_dir, name):
    import __spark_entry__ as e

    qs, oracles = e.queries(), e.oracle_sql()
    con = duckdb_conn(degen_dir)
    problems = compare(qs[name](spark, degen_dir), con, oracles[name], name)
    assert not problems, problems
