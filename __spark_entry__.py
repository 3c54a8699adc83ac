"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``streamlit_projet_spark_streaming_spark/``; this module is a
thin adapter over its query registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamlit_projet_spark_streaming_spark import registry as _registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Flagship = view 1 analog (``v_age_preferences``,
    ``/root/reference/bigquery_views.sql:2-43``): CASE bucketing, two
    aggregate branches, ROW_NUMBER top-1, LEFT JOIN — the full relational
    spine in one query (SURVEY.md §7 Phase 0).
    """
    return _registry.REGISTRY["v_price_bucket_preferences"].builder(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for every queries() key, same order."""
    return _registry.oracle_sql()
