"""Serving-layer tests: the dashboard snapshot over enriched silver
(every chart's query returns a sane, chart-sized frame)."""

import duckdb
import pytest

from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
from streamlit_projet_spark_streaming_spark.serving import dashboard as D

from .oracle_harness import compare
from .shopping_fixture import raw_df


@pytest.fixture(scope="module")
def silver(spark):
    df = enrich(raw_df(spark, 8000))
    df.cache().count()
    yield df
    df.unpersist()


def test_dashboard_snapshot_shapes(spark, silver):
    snap = D.dashboard_snapshot(silver)
    assert len(snap) == 13
    for name, df in snap.items():
        pdf = df.toPandas()
        assert len(pdf) > 0, name
        assert len(pdf) <= 1200, f"{name} is not chart-sized: {len(pdf)} rows"


def test_overview_metrics_vs_oracle(spark, silver):
    con = duckdb.connect()
    con.register("s", silver.toPandas())
    problems = compare(
        D.overview_metrics(silver),
        con,
        """
        SELECT COUNT(*) AS total_orders,
               ROUND(SUM(purchase_amount_usd), 2) AS total_revenue,
               ROUND(AVG(purchase_amount_usd), 2) AS avg_order_value,
               ROUND(AVG(review_rating), 2) AS avg_rating,
               CAST(SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS BIGINT) AS anomalies,
               ROUND(SUM(estimated_profit_usd), 2) AS total_profit,
               ROUND(SUM(final_amount_usd), 2) AS final_revenue,
               COUNT(*) FILTER (WHERE customer_segment = 'VIP') AS vip_orders,
               ROUND(100.0 * SUM(CASE WHEN is_anomaly THEN 1 ELSE 0 END)
                     / COUNT(*), 1) AS anomaly_rate_pct
        FROM s
        """,
        "overview_metrics",
    )
    con.close()
    assert not problems, "\n".join(problems)


def test_latest_orders_filters(spark, silver, monkeypatch):
    cats = ["Clothing", "Footwear"]
    monkeypatch.setattr(D, "LATEST_ORDERS_LIMIT", 200)
    got = D.latest_orders(silver, categories=cats).toPandas()
    assert len(got) == 200
    assert set(got["category"]) <= set(cats)


def test_gold_snapshot_per_view_isolation(spark, silver, tmp_path):
    """The reference degrades per-tab when a view is missing
    (streamlit_app.py:231-234): deleting one gold dir must leave every
    other view readable, map the missing one to None, and emit exactly
    one warning."""
    import shutil

    from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV
    from streamlit_projet_spark_streaming_spark.serving.app import GOLD_VIEWS

    gold_dir = str(tmp_path / "gold")
    for name in GOLD_VIEWS:
        getattr(SV, name)(silver).write.mode("overwrite").parquet(
            f"{gold_dir}/{name}"
        )
    shutil.rmtree(f"{gold_dir}/{GOLD_VIEWS[2]}")  # kill v_location_preferences

    warnings: list[str] = []
    snap = D.load_gold_snapshot(
        spark, gold_dir, GOLD_VIEWS, warn=lambda n, e: warnings.append(n)
    )
    assert snap[GOLD_VIEWS[2]] is None
    assert warnings == [GOLD_VIEWS[2]]
    for name in GOLD_VIEWS:
        if name != GOLD_VIEWS[2]:
            assert snap[name] is not None
            assert snap[name].count() > 0, name


def test_app_shell_imports_and_degrades_without_streamlit():
    """The app shell is import-guarded: importable in this container
    (no streamlit), raising a clear error only when run."""
    from streamlit_projet_spark_streaming_spark.serving import app

    if not app.HAVE_STREAMLIT:
        import pytest

        with pytest.raises(RuntimeError, match="streamlit is not installed"):
            app.main()
    assert len(app.TABS) == 8
