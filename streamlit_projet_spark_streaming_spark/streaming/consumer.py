"""The reconstructed Spark Consumer (SURVEY.md §2.H, §3 entry point 3).

Reference evidence: the Consumer "a traité des fichiers" (processes files,
``/root/reference/streamlit/README.md:155``), appends enriched rows with an
ingestion timestamp to the queryable ``orders`` store
(``streamlit/streamlit_app.py:176,188,319``), and the dashboard observes new
rows by polling (``:1024-1026``). Spark realization:

  files → readStream(explicit schema, maxFilesPerTrigger)      [H1]
        → processed_time = current_timestamp()                  [H2]
        → stateless 10-column enrichment chain                  [H3]
        → writeStream file sink, append + checkpoint            [H4]
  silver → readStream → foreachBatch: recompute gold tables     [H5]
  (4 shopping views + hourly series, full recompute            [H6/H7])

Two chained queries instead of one double-duty query: the silver writer
keeps the file sink's exactly-once guarantee (sink-managed file manifest),
and the gold refresher is an independent consumer of silver — exactly the
reference's topology (Consumer writes BigQuery; views read it).

Scale notes:
- Enrichment is a pure map: no shuffle, no state, survives any scale.
- Gold views are full-table aggregates by design (the reference's views are
  logical, re-executed per query — SURVEY.md §7 risk 4); at 100 TB the
  foreachBatch recompute reads only the aggregate-relevant columns
  (column-pruned parquet scan) and the group-by cardinality (buckets ×
  categories) is tiny, so the recompute cost is one scan — the same cost
  BigQuery paid per dashboard poll.
- While silver is small, a refresh costs per-job overhead, not data, and
  the refresh time sets freshness almost one for one. So a silver no
  larger than Spark's broadcast threshold is gathered into one partition
  (``relational.gather_if_small``): each gold table is then one job of
  one task with no exchange, and the five are built and run
  concurrently. A larger silver keeps the parallel plans.
- ``refresh_gold`` is the only writer of gold. Each table is written to a
  sibling staging directory and renamed over the live one, so a polling
  reader sees the previous or the next table, never a deleted one. The
  renames start only after all five writes succeeded, so a failed or
  cancelled refresh publishes nothing.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType
from pyspark.util import inheritable_thread_target

from ..functions.enrichment import enrich
from ..operators.relational import gather_if_small
from ..plans import shopping_views as SV
from ..sources.shopping import RAW_ORDER_SCHEMA


def hourly_series_batch(silver: DataFrame) -> DataFrame:
    """Hourly order-count + revenue series [G2/H6/H7]
    (``streamlit_app.py:374-379``), recomputed over all of silver by each
    gold refresh, so a late row lands in its hour at the next trigger."""
    return (
        silver.groupBy(
            F.date_trunc("hour", F.col("processed_time")).alias("hour")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("final_amount_usd"), 4).alias("revenue"),
        )
        .orderBy("hour")
    )


#: The gold tables :func:`refresh_gold` writes, each with the builder
#: that computes it from silver: the reference's four views, then the
#: hourly series (swapped in last). The one list of gold table names.
GOLD_BUILDERS: dict[str, Callable[[DataFrame], DataFrame]] = {
    "v_age_preferences": SV.v_age_preferences,
    "v_gender_preferences": SV.v_gender_preferences,
    "v_location_preferences": SV.v_location_preferences,
    "v_age_gender_category": SV.v_age_gender_category,
    "hourly_series": hourly_series_batch,
}
GOLD_VIEWS = tuple(GOLD_BUILDERS)


def start_ingest(
    spark: SparkSession,
    input_dir: str,
    silver_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 10,
    available_now: bool = False,
    processing_time: str = "15 seconds",
) -> StreamingQuery:
    """File-source micro-batch ingest of JSON-lines files → enrich → append
    to silver parquet.

    ``available_now=True`` drains all pending files then stops (test mode);
    otherwise a 15 s processingTime trigger mirrors the reference's default
    refresh interval (``streamlit_app.py:307``).
    """
    raw = (
        spark.readStream.schema(RAW_ORDER_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        # an explicit timestampFormat disables Spark's datetime parsing
        # fallback; re-enable it so producers emitting second- or
        # millisecond-precision ISO timestamps (e.g. Python isoformat()
        # with microsecond == 0) do not become malformed rows
        .option("enableDateTimeParsingFallback", "true")
        .json(input_dir)
    )
    # PERMISSIVE mode turns a malformed line into an all-NULL row; drop
    # those instead of letting the coalesce below stamp a fresh
    # processed_time onto an empty record. (At prod scale this filter
    # would be a dead-letter route, not a silent drop.)
    raw = raw.filter(F.col("customer_id").isNotNull())
    # H2: ingestion timestamp. Raw files may carry an upstream
    # processed_time (fixture replay); keep it if present and non-null so
    # stream/batch parity is exact, else stamp now().
    stamped = raw.withColumn(
        "processed_time",
        F.coalesce(F.col("processed_time"), F.current_timestamp()),
    )
    enriched = enrich(stamped)
    writer = (
        enriched.writeStream.format("parquet")
        .option("path", silver_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def refresh_gold(spark: SparkSession, silver_dir: str, gold_dir: str) -> None:
    """Recompute the gold tables (4 views + hourly series) from silver.

    Full-table semantics by design — identical results to the reference's
    logical views at any point in time. Each gold table is tiny (bounded by
    group cardinality), so rewriting all of them per trigger is cheap.

    A small silver is gathered into one partition, so each table is one
    exchange-free job of one task. The five tables are built and written
    concurrently, one per pool thread: on a small silver, building a
    view's plan costs about as much as running it. Each thread runs under
    ``inheritable_thread_target``: it carries the caller's job group and
    properties, so stopping the streaming query still cancels the writes.
    Every write is waited for, and the first error fails the refresh.
    Only then is each table swapped in whole by :func:`_swap_in`,
    ``hourly_series`` last: a failed or cancelled refresh changes no
    table, and a reader that sees a new hour in ``hourly_series`` finds
    every view refreshed too.
    """
    silver = gather_if_small(
        spark.read.schema(enrich_schema(spark)).parquet(silver_dir)
    )
    paths = [os.path.join(gold_dir, name) for name in GOLD_BUILDERS]
    with ThreadPoolExecutor(len(GOLD_BUILDERS)) as pool:
        writes = [
            pool.submit(inheritable_thread_target(spark)(_stage), build, silver, path)
            for build, path in zip(GOLD_BUILDERS.values(), paths)
        ]
        for write in writes:
            write.result()
    for path in paths:
        _swap_in(path)


def _stage(
    build: Callable[[DataFrame], DataFrame], silver: DataFrame, path: str
) -> None:
    """Build one gold table from silver and write it to the staging
    directory of the table at ``path``."""
    build(silver).write.mode("overwrite").parquet(path + ".staging")


def _swap_in(path: str) -> None:
    """Rename the staging directory written by :func:`_stage` over
    ``path``: a reader finds the old table or the new one, never a table
    being deleted or half rewritten (plain parquet has no atomic commit;
    the live directory is missing only between the two renames). A crash
    between them leaves ``path`` absent until the next refresh, which
    rewrites every table, so no recovery step is needed."""
    staging, old = path + ".staging", path + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(path):
        os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old, ignore_errors=True)


_ENRICHED_SCHEMA: StructType | None = None


def enrich_schema(spark: SparkSession) -> StructType:
    """Enriched 21-column schema, derived from the enrichment chain
    applied to an empty raw frame (no hand-maintained duplicate).

    It depends only on ``RAW_ORDER_SCHEMA`` and the enrichment code, so it
    is derived once per process (about 0.1 s of analysis) and reused by
    every refresh and reader; do not mutate the returned schema."""
    global _ENRICHED_SCHEMA
    if _ENRICHED_SCHEMA is None:
        empty = spark.createDataFrame([], RAW_ORDER_SCHEMA)
        _ENRICHED_SCHEMA = enrich(empty).schema
    return _ENRICHED_SCHEMA


def start_gold_refresh(
    spark: SparkSession,
    silver_dir: str,
    gold_dir: str,
    checkpoint_dir: str,
    available_now: bool = False,
    processing_time: str = "15 seconds",
) -> StreamingQuery:
    """Silver → gold refresher: a streaming reader of silver whose only job
    is change detection; the refresh itself is the batch recompute above.

    foreachBatch is the documented pattern for streaming top-k/array_agg
    gold views: window functions aren't supported on streams
    (SURVEY.md §7 risk 4), and view semantics are full-table anyway.
    """
    silver_stream = (
        spark.readStream.schema(enrich_schema(spark)).parquet(silver_dir)
    )

    def _refresh(batch_df: DataFrame, batch_id: int) -> None:
        refresh_gold(spark, silver_dir, gold_dir)

    writer = (
        silver_stream.writeStream.foreachBatch(_refresh)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
