"""Streaming-layer tests (SURVEY.md §5.3): stream/batch enrichment parity,
gold refresh equivalence, stop/restart on the same checkpoint."""

import os
import time

import pytest

from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV
from streamlit_projet_spark_streaming_spark.sources.shopping import generate_raw_orders
from streamlit_projet_spark_streaming_spark.streaming import consumer as C

from .conftest import jobs_in_group
from .oracle_harness import canonical_rows
from .shopping_fixture import raw_df, write_json_chunks

N_ROWS = 3000


@pytest.fixture(scope="module")
def pipeline_dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    dirs = {
        "input": str(base / "input"),
        "silver": str(base / "silver"),
        "ckpt_ingest": str(base / "ckpt_ingest"),
        "gold": str(base / "gold"),
        "ckpt_gold": str(base / "ckpt_gold"),
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    return dirs


@pytest.fixture(scope="module")
def drained(spark, pipeline_dirs):
    """Drop fixture files into the input dir and drain the ingest stream."""
    rows = generate_raw_orders(N_ROWS, seed=42)
    write_json_chunks(rows, pipeline_dirs["input"], n_chunks=6)
    q = C.start_ingest(
        spark,
        pipeline_dirs["input"],
        pipeline_dirs["silver"],
        pipeline_dirs["ckpt_ingest"],
        max_files_per_trigger=2,
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive
    return pipeline_dirs


def test_stream_batch_enrichment_parity(spark, drained):
    """Silver rows from the stream == batch enrich() over the same input —
    Structured Streaming's unbounded-table model makes this exact equality."""
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(drained["silver"])
    batch = enrich(raw_df(spark, N_ROWS))
    a = canonical_rows(silver.toPandas())
    b = canonical_rows(batch.toPandas())
    assert a == b


def test_gold_refresh_matches_batch(spark, drained):
    """Gold tables after stream drain == batch recomputation over silver."""
    q = C.start_gold_refresh(
        spark,
        drained["silver"],
        drained["gold"],
        drained["ckpt_gold"],
        available_now=True,
    )
    q.awaitTermination(120)
    assert not q.isActive

    _assert_gold_matches_batch(spark, drained["silver"], drained["gold"])


def test_refresh_gold_is_five_jobs_in_the_callers_group(spark, drained, tmp_path):
    """Over a small silver of several files, each gold table is one
    exchange-free job, and the concurrent writes run in the caller's job
    group (so stopping the query cancels them): exactly 5 jobs."""
    assert len([f for f in os.listdir(drained["silver"]) if f.endswith(".parquet")]) > 1
    gold_dir = str(tmp_path / "gold")
    jobs = jobs_in_group(
        spark, "refresh_gold", lambda: C.refresh_gold(spark, drained["silver"], gold_dir)
    )
    assert jobs == len(C.GOLD_VIEWS)
    _assert_gold_matches_batch(spark, drained["silver"], gold_dir)


def test_failed_refresh_changes_no_gold_table(spark, drained, tmp_path, monkeypatch):
    """A refresh whose last table fails to compute publishes none of the
    five: every live table keeps the files of the previous refresh."""
    from pyspark.sql import functions as F

    gold_dir = str(tmp_path / "gold")
    C.refresh_gold(spark, drained["silver"], gold_dir)

    def files():
        return {n: sorted(os.listdir(os.path.join(gold_dir, n))) for n in C.GOLD_VIEWS}

    before = files()
    monkeypatch.setitem(
        C.GOLD_BUILDERS,
        "hourly_series",
        lambda silver: silver.select(F.raise_error(F.lit("boom")).cast("string").alias("x")),
    )
    with pytest.raises(Exception, match="boom"):
        C.refresh_gold(spark, drained["silver"], gold_dir)
    assert files() == before


def _assert_gold_matches_batch(spark, silver_dir, gold_dir):
    silver = spark.read.schema(C.enrich_schema(spark)).parquet(silver_dir)
    expect = {
        "v_age_preferences": SV.v_age_preferences(silver),
        "v_gender_preferences": SV.v_gender_preferences(silver),
        "v_location_preferences": SV.v_location_preferences(silver),
        "v_age_gender_category": SV.v_age_gender_category(silver),
        "hourly_series": C.hourly_series_batch(silver),
    }
    for name, edf in expect.items():
        gold = spark.read.parquet(os.path.join(gold_dir, name))
        assert canonical_rows(gold.toPandas()) == canonical_rows(edf.toPandas()), name
    # the staging and backup directories of the swap are gone
    assert sorted(os.listdir(gold_dir)) == sorted(expect)


def _stop_after_first_batch(q, timeout_s=120):
    """Stop ``q`` once one micro-batch has run (only a batch that ran has
    an addBatch time; gold's foreachBatch never reads its input, so its
    numInputRows stays 0). The long processingTime trigger leaves ``q``
    idle after that batch, so the stop lands between batches."""
    deadline = time.monotonic() + timeout_s
    while not any("addBatch" in p["durationMs"] for p in q.recentProgress):
        assert q.isActive, q.exception()
        assert time.monotonic() < deadline, "no batch within the timeout"
        time.sleep(0.2)
    q.stop()


def test_stop_and_restart_on_same_checkpoint(spark, tmp_path):
    """Ingest and gold refresh each run one batch, stop, and restart on
    their checkpoints with availableNow: silver holds every valid input
    row exactly once and gold equals the batch views over it."""
    n = 800
    dirs = {
        k: str(tmp_path / k)
        for k in ("input", "silver", "ckpt_ingest", "gold", "ckpt_gold")
    }
    paths = write_json_chunks(generate_raw_orders(n, seed=11), dirs["input"], n_chunks=4)
    with open(paths[-1], "a") as f:
        f.write("{not json\n")  # malformed: PERMISSIVE null row, filtered

    def ingest(**trigger):
        return C.start_ingest(
            spark, dirs["input"], dirs["silver"], dirs["ckpt_ingest"],
            max_files_per_trigger=1, **trigger,
        )

    def gold(**trigger):
        return C.start_gold_refresh(
            spark, dirs["silver"], dirs["gold"], dirs["ckpt_gold"], **trigger
        )

    def silver():
        return spark.read.schema(C.enrich_schema(spark)).parquet(dirs["silver"])

    _stop_after_first_batch(ingest(processing_time="1 hour"))
    assert 0 < silver().count() < n  # one file of four
    _stop_after_first_batch(gold(processing_time="1 hour"))
    _assert_gold_matches_batch(spark, dirs["silver"], dirs["gold"])

    for restart in (ingest, gold):
        q = restart(available_now=True)
        q.awaitTermination(120)
        assert not q.isActive and q.exception() is None
    assert silver().count() == n
    assert canonical_rows(silver().toPandas()) == canonical_rows(
        enrich(raw_df(spark, n, seed=11)).toPandas()
    )
    _assert_gold_matches_batch(spark, dirs["silver"], dirs["gold"])
