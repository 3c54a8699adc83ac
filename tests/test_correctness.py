"""Oracle-differential tests: every registry query vs its DuckDB oracle
at sf=0.01 (SURVEY.md §5.1 — the primary correctness gate)."""

import pytest

from streamlit_projet_spark_streaming_spark.registry import REGISTRY

from .conftest import SF_CORRECT
from .oracle_harness import compare, duckdb_conn

_NAMES = sorted(REGISTRY)


SF_SMALL = SF_CORRECT.replace("sf0.01", "sf0.001")


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_CORRECT)
    yield c
    c.close()


@pytest.fixture(scope="module")
def con_small():
    c = duckdb_conn(SF_SMALL)
    yield c
    c.close()


@pytest.mark.parametrize("name", _NAMES)
def test_query_matches_oracle(spark, con, name):
    spec = REGISTRY[name]
    df = spec.builder(spark, SF_CORRECT)
    problems = compare(df, con, spec.oracle, name)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", _NAMES)
def test_query_matches_oracle_small_sf(spark, con_small, name):
    """Cross-SF guard: the same oracle comparison at sf0.001 — catches
    float-rounding boundary luck that a single scale factor can hide
    (one such flip was caught this way; see relational.stable_avg)."""
    spec = REGISTRY[name]
    df = spec.builder(spark, SF_SMALL)
    problems = compare(df, con_small, spec.oracle, name)
    assert not problems, "\n".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    rows = e.entry(spark).collect()
    assert len(rows) > 0
