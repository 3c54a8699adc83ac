"""Reference-faithful view parity: the four shopping views vs DuckDB oracles
over the generated shopping fixture (FIXTURES.md §B, SURVEY.md §5)."""

import datetime

import duckdb
import pandas as pd
import pytest

from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV
from streamlit_projet_spark_streaming_spark.registry import REGISTRY

from .oracle_harness import compare, duckdb_conn
from .shopping_fixture import raw_df

VIEW_BUILDERS = {
    "v_age_preferences": SV.v_age_preferences,
    "v_gender_preferences": SV.v_gender_preferences,
    "v_location_preferences": SV.v_location_preferences,
    "v_age_gender_category": SV.v_age_gender_category,
}


@pytest.fixture(scope="module")
def enriched(spark):
    df = enrich(raw_df(spark, 20000))
    df.cache().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def shopping_con(spark, enriched):
    con = duckdb.connect()
    pdf = enriched.toPandas()
    con.register("shopping_orders", pdf)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(VIEW_BUILDERS))
def test_shopping_view_matches_oracle(spark, enriched, shopping_con, name):
    df = VIEW_BUILDERS[name](enriched)
    oracle = SV.oracle_sql_shopping()[name]
    # strict=False: the shopping twins are pytest-only reference-parity
    # surfaces (never driver-hashed), and their top-N list columns are
    # part of the reference's own shape.
    problems = compare(df, shopping_con, oracle, name, strict=False)
    assert not problems, "\n".join(problems)


FIXTURE_VIEWS = (
    "v_price_bucket_preferences",
    "v_status_preferences",
    "v_segment_preferences",
    "v_bucket_status_priority",
)


@pytest.fixture(scope="module")
def half_grid_sf(tmp_path_factory):
    """80 orders in one group whose mean, 120457.69425, sits exactly on
    the ROUND(x, 4) half-grid: 79 x 120000.00 and 1 x 156615.54. The
    float quotient of the cents-rounded sum lands just below the tie, so
    ROUND(double) gives .6942 where the exact integer rounding of the
    oracles' ``stable_avg_sql`` gives .6943."""
    sf = tmp_path_factory.mktemp("half_grid_sf")
    n = 80
    pd.DataFrame(
        {
            "o_orderkey": pd.Series(range(1, n + 1), dtype="int64"),
            "o_custkey": pd.Series([1] * n, dtype="int64"),
            "o_orderstatus": ["O"] * n,
            "o_totalprice": [120000.00] * (n - 1) + [156615.54],
            "o_orderdate": pd.Series(
                [datetime.datetime(1995, 1, 1)] * n, dtype="datetime64[us]"
            ),
            "o_orderpriority": ["1-URGENT"] * n,
        }
    ).to_parquet(sf / "orders.parquet", index=False)
    pd.DataFrame(
        {
            "c_custkey": pd.Series([1], dtype="int64"),
            "c_name": ["Customer#000000001"],
            "c_nationkey": pd.Series([0], dtype="int32"),
            "c_acctbal": [0.0],
            "c_mktsegment": ["BUILDING"],
        }
    ).to_parquet(sf / "customer.parquet", index=False)
    return str(sf)


@pytest.mark.parametrize("name", FIXTURE_VIEWS)
def test_fixture_view_rounds_like_its_oracle(spark, half_grid_sf, name):
    """The registry's view entries round a half-grid average exactly as
    their DuckDB oracles do (exact integer rounding, ``ratio_round``)."""
    spec = REGISTRY[name]
    con = duckdb_conn(half_grid_sf)
    try:
        problems = compare(spec.builder(spark, half_grid_sf), con, spec.oracle, name)
    finally:
        con.close()
    assert not problems, "\n".join(problems)


def test_enrichment_domains(spark, enriched):
    """Enriched column domains match the reference's observed domains
    (streamlit_app.py:891 satisfaction, :349 VIP, :185 seasons, etc.)."""
    pdf = enriched.toPandas()
    assert set(pdf["satisfaction_level"]) <= {
        "Very Satisfied",
        "Satisfied",
        "Neutral",
        "Dissatisfied",
    }
    assert set(pdf["customer_segment"]) <= {"Regular", "Premium", "VIP"}
    assert "VIP" in set(pdf["customer_segment"])
    assert set(pdf["amount_category"]) <= {"Budget", "Standard", "Premium"}
    assert "Premium" in set(pdf["amount_category"])
    assert set(pdf["season_type"]) <= {"Winter", "Spring", "Summer", "Fall"}
    assert set(pdf["frequency_category"]) <= {
        "Weekly",
        "Monthly",
        "Quarterly",
        "Annually",
    }
    assert set(pdf["loyalty_score"]) <= {"Low", "Medium", "High"}
    assert 0 < pdf["is_anomaly"].sum() < len(pdf) * 0.2
    assert (pdf["estimated_profit_usd"] <= pdf["final_amount_usd"]).all()
