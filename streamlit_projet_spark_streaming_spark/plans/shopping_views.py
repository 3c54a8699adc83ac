"""The four reference views on the TRUE shopping ``orders`` schema —
byte-level semantic parity with ``/root/reference/bigquery_views.sql``
(modulo the documented deterministic tie-breakers).

:func:`stats_plus_top1` and :func:`stats_plus_top3` are the one Spark
definition of the reference's preference-view shapes: the streaming gold
layer and the shopping-fixture parity tests (FIXTURES.md §B) call them
through the ``v_*`` wrappers below, and the registry's fixture-mapped
view entries call them with TPC-H columns (FIXTURES.md §A).

Environment parameterization note (SURVEY.md §2.J): the reference ships two
byte-identical SQL files differing only in dataset (``bigquery_views.sql``
prod vs ``bigquery_views_dev.sql`` dev). Here a view is a function of a
DataFrame — one definition, any environment — which IS the
parameterization.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.numeric import cents, ratio_round, stable_avg_sql
from ..operators.relational import bucketize, ordered_array_agg, stable_avg

#: Age buckets exactly per ``bigquery_views.sql:5-12``: <25 → '18-24',
#: BETWEEN 25 AND 34 → '25-34', …, BETWEEN 55 AND 64 → '55-64', ELSE '65+'.
AGE_EDGES = (25, 35, 45, 55, 65)
AGE_LABELS = ("18-24", "25-34", "35-44", "45-54", "55-64", "65+")


def age_bucket_col() -> F.Column:
    return bucketize(F.col("age"), AGE_EDGES, AGE_LABELS)


def _ranked_categories(
    df: DataFrame, key: str, category: str, avgs: Sequence[tuple[str, str]]
) -> DataFrame:
    """One row per (key, category): its count ``cnt``, the key's total
    ``orders``, one per-key average per ``(alias, measure)`` pair (from
    the key's ``sum_<measure>`` and ``n_<measure>``), and the category's
    rank ``rn`` within the key (count desc, category asc).

    Single fact aggregation: per-(key, category) count + sums, then the
    stats AND the ranking come from window functions over that
    dimension-sized intermediate — one fact scan, no join (the reference
    scans ``orders`` once per branch and joins the branches back,
    ``bigquery_views.sql:19-43``)."""
    by_cat = df.groupBy(key, category).agg(
        F.count(F.lit(1)).alias("cnt"),
        *[F.sum(m).alias(f"sum_{m}") for _, m in avgs],
        # non-null measure counts: AVG ignores NULLs, so the window
        # averages divide by these, not by COUNT(*)
        *[F.count(m).alias(f"n_{m}") for _, m in avgs],
    )
    key_w = Window.partitionBy(key)
    rank_w = key_w.orderBy(F.desc("cnt"), F.asc(category))
    # each per-key sum is computed once into a column: ratio_round uses
    # its operands several times, and Catalyst keeps every use of an
    # inline window sum as its own window aggregate
    out = by_cat.withColumns(
        {
            "orders": F.sum("cnt").over(key_w),
            **{c: F.sum(c).over(key_w) for _, m in avgs for c in (f"sum_{m}", f"n_{m}")},
        }
    )
    # grid-units/count ratios rounded in exact integer space — the window
    # twin of relational.stable_avg (r6 grid-quotient rule)
    out = out.withColumns(
        {
            alias: ratio_round(cents(F.col(f"sum_{m}")), F.col(f"n_{m}") * 100, 4)
            for alias, m in avgs
        }
    )
    return out.withColumn("rn", F.row_number().over(rank_w))


def stats_plus_top1(
    df: DataFrame,
    key: str,
    category: str,
    top_name: str,
    avgs: Sequence[tuple[str, str]],
) -> DataFrame:
    """Shape of views 1-2: per-key stats branch LEFT JOIN top-1 category
    branch (``bigquery_views.sql:20-43`` and ``:49-72``). Output: ``key``,
    orders, one column per ``avgs`` alias, ``top_name``."""
    return (
        _ranked_categories(df, key, category, avgs)
        .filter(F.col("rn") == 1)
        .select(key, "orders", *[a for a, _ in avgs], F.col(category).alias(top_name))
        .orderBy(key)
    )


def stats_plus_top3(
    df: DataFrame,
    key: str,
    category: str,
    top_name: str,
    avgs: Sequence[tuple[str, str]],
) -> DataFrame:
    """Shape of view 3: per-key stats ∥ top-3 categories (ROW_NUMBER ≤ 3,
    ``bigquery_views.sql:91``) → LEFT JOIN → re-GROUP BY with passthrough
    keys (D7, ``:100``) folding the top-3 into an ordered ARRAY_AGG
    (``:97``, count desc + category asc tie-break). Output: ``key``,
    orders, one column per ``avgs`` alias, ``top_name`` ARRAY<STRING>."""
    return (
        _ranked_categories(df, key, category, avgs)
        .filter(F.col("rn") <= 3)
        .groupBy(key, "orders", *[a for a, _ in avgs])
        .agg(
            ordered_array_agg(F.col("cnt"), F.col(category), ascending=False).alias(
                top_name
            )
        )
        .orderBy(key)
    )


#: The reference's two averages per preference view (``:22-23``).
_SPEND_RATING = (("avg_spend", "purchase_amount_usd"), ("avg_rating", "review_rating"))


def v_age_preferences(orders: DataFrame) -> DataFrame:
    """``v_age_preferences`` (``bigquery_views.sql:2-43``): age CASE bucket →
    COUNT/AVG(spend)/AVG(rating) ∥ top-1 category per bucket → LEFT JOIN.
    Output: age_bucket, orders, avg_spend, avg_rating, top_category
    (``:36-41``)."""
    bucketed = orders.select(
        age_bucket_col().alias("age_bucket"),
        "purchase_amount_usd",
        "review_rating",
        "category",
    )
    return stats_plus_top1(bucketed, "age_bucket", "category", "top_category", _SPEND_RATING)


def v_gender_preferences(orders: DataFrame) -> DataFrame:
    """``v_gender_preferences`` (``bigquery_views.sql:46-72``): same shape
    keyed on raw ``gender`` (``:54``). Output ``:65-70``."""
    return stats_plus_top1(
        orders.select("gender", "purchase_amount_usd", "review_rating", "category"),
        "gender",
        "category",
        "top_category",
        _SPEND_RATING,
    )


def v_location_preferences(orders: DataFrame) -> DataFrame:
    """``v_location_preferences`` (``bigquery_views.sql:75-100``):
    per-location COUNT/AVG ∥ top-3 categories (ROW_NUMBER ≤ 3, ``:91``) →
    LEFT JOIN → re-GROUP BY with ordered ARRAY_AGG (``:97``, count desc +
    category asc tie-break). Output: location, orders, avg_spend,
    top_categories ARRAY<STRING> (``:93-97``)."""
    return stats_plus_top3(
        orders,
        "location",
        "category",
        "top_categories",
        (("avg_spend", "purchase_amount_usd"),),
    )


def v_age_gender_category(orders: DataFrame) -> DataFrame:
    """``v_age_gender_category`` (``bigquery_views.sql:103-126``): age CASE
    bucket → three-key GROUP BY (bucket, gender, category) with COUNT + AVG
    (``:119-126``)."""
    return (
        orders.select(
            age_bucket_col().alias("age_bucket"),
            "gender",
            "category",
            "purchase_amount_usd",
        )
        .groupBy("age_bucket", "gender", "category")
        .agg(
            F.count(F.lit(1)).alias("orders"),
            stable_avg("purchase_amount_usd").alias("avg_spend"),
        )
        .orderBy("age_bucket", "gender", "category")
    )


#: SQL twins for the shopping-fixture parity tests (DuckDB dialect).
AGE_BUCKET_SQL = (
    "CASE WHEN age < 25 THEN '18-24' WHEN age < 35 THEN '25-34' "
    "WHEN age < 45 THEN '35-44' WHEN age < 55 THEN '45-54' "
    "WHEN age < 65 THEN '55-64' ELSE '65+' END"
)


def oracle_sql_shopping() -> dict[str, str]:
    """DuckDB oracle SQL for the four shopping views (pytest parity gate)."""
    table = "shopping_orders"

    def stats_top1(key_expr: str, key_alias: str) -> str:
        return f"""
        WITH base AS (
          SELECT {key_expr} AS k, purchase_amount_usd, review_rating, category
          FROM {table}
        ), stats AS (
          SELECT k, COUNT(*) AS orders,
                 {stable_avg_sql("purchase_amount_usd")} AS avg_spend,
                 {stable_avg_sql("review_rating")} AS avg_rating
          FROM base GROUP BY k
        ), counts AS (
          SELECT k, category, COUNT(*) AS cnt FROM base GROUP BY k, category
        ), top AS (
          SELECT k, category AS top_category
          FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY k ORDER BY cnt DESC, category ASC) AS rn
                FROM counts)
          WHERE rn = 1
        )
        SELECT s.k AS {key_alias}, s.orders, s.avg_spend, s.avg_rating,
               t.top_category
        FROM stats s LEFT JOIN top t ON s.k = t.k
        """

    return {
        "v_age_preferences": stats_top1(AGE_BUCKET_SQL, "age_bucket"),
        "v_gender_preferences": stats_top1("gender", "gender"),
        "v_location_preferences": f"""
        WITH stats AS (
          SELECT location, COUNT(*) AS orders,
                 {stable_avg_sql("purchase_amount_usd")} AS avg_spend
          FROM {table} GROUP BY location
        ), counts AS (
          SELECT location, category, COUNT(*) AS cnt
          FROM {table} GROUP BY location, category
        ), top3 AS (
          SELECT location, category, cnt
          FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY location ORDER BY cnt DESC, category ASC) AS rn
                FROM counts)
          WHERE rn <= 3
        )
        SELECT s.location, s.orders, s.avg_spend,
               list(t.category ORDER BY t.cnt DESC, t.category ASC)
                 AS top_categories
        FROM stats s LEFT JOIN top3 t ON s.location = t.location
        GROUP BY s.location, s.orders, s.avg_spend
        """,
        "v_age_gender_category": f"""
        SELECT {AGE_BUCKET_SQL} AS age_bucket, gender, category,
               COUNT(*) AS orders,
               {stable_avg_sql("purchase_amount_usd")} AS avg_spend
        FROM {table}
        GROUP BY 1, 2, 3
        """,
    }
