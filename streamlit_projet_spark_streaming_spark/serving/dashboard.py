"""Dashboard query layer (SURVEY.md §2 groups D8-D18, E4, F, G; Phase 3).

The reference dashboard pulls 10k raw rows into pandas and aggregates
client-side (``/root/reference/streamlit/streamlit_app.py:325-1014``). Here
every one of those aggregations is a Spark query over the enriched silver
table — pushed server-side so only chart-sized results ever reach the
client (``.toPandas()`` strictly at the chart boundary). At 100 TB the
client-side approach is impossible; this layer is the scale-correct
restatement of the exact same analytics.

Every function takes the enriched silver DataFrame (21-column schema from
``functions.enrichment.enrich``) and returns a small DataFrame. Reference
sites cited per function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import (
    gather_if_small,
    histogram,
    latest_n,
    pivot_counts,
    value_counts,
)

#: Fixed pivot level orders (the reference reindexes columns explicitly,
#: ``streamlit_app.py:891-894``).
SATISFACTION_LEVELS = ("Very Satisfied", "Satisfied", "Neutral", "Dissatisfied")
GENDERS = ("Female", "Male")

#: Chart sizes: top categories shown, amount-histogram bins and rows of
#: the latest-orders table.
TOP_CATEGORIES = 10
AMOUNT_BINS = 50
LATEST_ORDERS_LIMIT = 1000


def overview_metrics(silver: DataFrame) -> DataFrame:
    """Headline metric row + enriched metric row [D8/D9]
    (``streamlit_app.py:333-355``): orders, revenue, AOV, rating, plus
    anomalies / profit / final revenue / VIP count, and anomaly rate [B9].
    One single-pass global aggregate."""
    return silver.agg(
        F.count(F.lit(1)).alias("total_orders"),
        F.round(F.sum("purchase_amount_usd"), 2).alias("total_revenue"),
        F.round(F.avg("purchase_amount_usd"), 2).alias("avg_order_value"),
        F.round(F.avg("review_rating"), 2).alias("avg_rating"),
        F.sum(F.col("is_anomaly").cast("long")).alias("anomalies"),
        F.round(F.sum("estimated_profit_usd"), 2).alias("total_profit"),
        F.round(F.sum("final_amount_usd"), 2).alias("final_revenue"),
        F.count_if(F.col("customer_segment") == "VIP").alias("vip_orders"),
        F.round(
            100.0 * F.sum(F.col("is_anomaly").cast("long")) / F.count(F.lit(1)), 1
        ).alias("anomaly_rate_pct"),
    )


def category_distribution(silver: DataFrame) -> DataFrame:
    """Top-N category frequency [D16/F6] (``streamlit_app.py:426``)."""
    return value_counts(silver, "category").limit(TOP_CATEGORIES)


def category_revenue(silver: DataFrame) -> DataFrame:
    """Top-N category revenue [D17] (``streamlit_app.py:440``)."""
    return (
        silver.groupBy("category")
        .agg(F.round(F.sum("purchase_amount_usd"), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("category"))
        .limit(TOP_CATEGORIES)
    )


def amount_histogram(silver: DataFrame) -> DataFrame:
    """Amount distribution histogram [G3] (``streamlit_app.py:455-461``)."""
    return histogram(silver, "purchase_amount_usd", AMOUNT_BINS)


def vip_premium_analysis(silver: DataFrame) -> DataFrame:
    """VIP × Premium subset per-category aggs [B6/D10/D12]
    (``streamlit_app.py:685-707``)."""
    return (
        silver.filter(
            (F.col("customer_segment") == "VIP")
            & (F.col("amount_category") == "Premium")
        )
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("orders"),
            F.round(F.sum("final_amount_usd"), 2).alias("total_amount"),
            F.round(F.avg("final_amount_usd"), 2).alias("avg_amount"),
            F.round(F.avg("estimated_clv"), 2).alias("avg_clv"),
        )
        .orderBy(F.desc("total_amount"), F.asc("category"))
    )


def anomaly_analysis(silver: DataFrame) -> DataFrame:
    """Anomalies per category [B7/D13] (``streamlit_app.py:751-801``)."""
    return (
        silver.filter(F.col("is_anomaly"))
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("anomalies"),
            F.round(F.sum("purchase_amount_usd"), 2).alias("anomaly_amount"),
        )
        .orderBy(F.desc("anomalies"), F.asc("category"))
    )


def segment_revenue(silver: DataFrame) -> DataFrame:
    """Revenue by customer segment [D14] (``streamlit_app.py:831-836``)."""
    return (
        silver.groupBy("customer_segment")
        .agg(
            F.round(F.sum("final_amount_usd"), 2).alias("total_revenue"),
            F.round(F.avg("final_amount_usd"), 2).alias("avg_revenue"),
            F.count(F.lit(1)).alias("orders"),
            F.round(F.sum("estimated_profit_usd"), 2).alias("total_profit"),
        )
        .orderBy(F.desc("total_revenue"))
    )


def satisfaction_pivot(silver: DataFrame) -> DataFrame:
    """category × satisfaction_level pivot with fixed column order [D15/E4]
    (``streamlit_app.py:873-894``)."""
    return pivot_counts(
        silver, "category", "satisfaction_level", SATISFACTION_LEVELS
    )


def age_gender_pivot(silver: DataFrame) -> DataFrame:
    """age_bucket × gender order-count pivot [E4]
    (``streamlit_app.py:645-651``)."""
    from ..plans.shopping_views import age_bucket_col

    bucketed = silver.select(age_bucket_col().alias("age_bucket"), "gender")
    return pivot_counts(bucketed, "age_bucket", "gender", GENDERS)


def loyalty_distribution(silver: DataFrame) -> DataFrame:
    """Loyalty-score frequency [D16] (``streamlit_app.py:727-734``)."""
    return value_counts(silver, "loyalty_score")


def frequency_distribution(silver: DataFrame) -> DataFrame:
    """Frequency-category frequency [D16] (``streamlit_app.py:966``)."""
    return value_counts(silver, "frequency_category")


def latest_orders(
    silver: DataFrame,
    categories: list[str] | None = None,
    locations: list[str] | None = None,
) -> DataFrame:
    """Latest-N scan with optional multiselect filters [F1/B8/B2]
    (``streamlit_app.py:188-189, 997-1011``). Column-subset projection with
    existence guard mirrors the reference's defensive ``df[available]``."""
    df = silver
    if categories:
        df = df.filter(F.col("category").isin(categories))
    if locations:
        df = df.filter(F.col("location").isin(locations))
    want = [
        "customer_id",
        "age",
        "gender",
        "category",
        "item_purchased",
        "purchase_amount_usd",
        "final_amount_usd",
        "customer_segment",
        "payment_method",
        "processed_time",
    ]
    available = [c for c in want if c in df.columns]  # B2 existence guard
    # no unique id exists in the 21-column schema, so a multi-column
    # tiebreak makes the selected set deterministic up to full-row
    # duplicates (determinism rule 1)
    return latest_n(
        df,
        "processed_time",
        LATEST_ORDERS_LIMIT,
        tiebreak=["customer_id", "item_purchased", "purchase_amount_usd"],
    ).select(
        *available
    )


def load_gold_snapshot(
    spark,
    gold_dir: str,
    names: tuple[str, ...],
    warn=None,
) -> dict[str, DataFrame | None]:
    """Read each gold view with PER-VIEW failure isolation — the
    reference's degrade-per-tab behavior (``streamlit_app.py:231-234,
    524-525``: a missing view warns and renders an empty tab; the other
    tabs keep working).

    A view whose gold directory is missing/unreadable maps to ``None``
    and ``warn(name, exc)`` is invoked (the app shell passes
    ``st.warning``; tests pass a recorder); every other view still
    returns its DataFrame. Streamlit-independent so the isolation
    behavior itself is testable in containers without the UI.
    """
    import os

    out: dict[str, DataFrame | None] = {}
    for name in names:
        try:
            df = spark.read.parquet(os.path.join(gold_dir, name))
            df.schema  # force analysis so unreadable dirs fail HERE, not at render
            out[name] = df
        except Exception as exc:  # noqa: BLE001 - reference behavior
            if warn is not None:
                warn(name, exc)
            out[name] = None
    return out


def dashboard_snapshot(silver: DataFrame) -> dict[str, DataFrame]:
    """Everything the 8-tab dashboard renders, one DataFrame per chart
    (``streamlit_app.py:358-367`` tab list). The serving process calls
    ``.toPandas()`` on each — the only place that boundary is crossed.

    A small silver is gathered into one partition first
    (``relational.gather_if_small``), so a chart is one exchange-free job
    instead of a multi-stage one; a large silver keeps its partitions."""
    from ..streaming.consumer import hourly_series_batch

    silver = gather_if_small(silver)
    return {
        "overview_metrics": overview_metrics(silver),
        "hourly_series": hourly_series_batch(silver),
        "category_distribution": category_distribution(silver),
        "category_revenue": category_revenue(silver),
        "amount_histogram": amount_histogram(silver),
        "vip_premium_analysis": vip_premium_analysis(silver),
        "anomaly_analysis": anomaly_analysis(silver),
        "segment_revenue": segment_revenue(silver),
        "satisfaction_pivot": satisfaction_pivot(silver),
        "age_gender_pivot": age_gender_pivot(silver),
        "loyalty_distribution": loyalty_distribution(silver),
        "frequency_distribution": frequency_distribution(silver),
        "latest_orders": latest_orders(silver),
    }
