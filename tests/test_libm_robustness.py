"""Permanent gate: every transcendental-bearing oracle surface must be
invariant under a ±1e-9 relative perturbation of its ln/exp/power calls.
The same gate as ``python tools/audit.py libm`` at its default sf0.01,
over every transcendental oracle among the registry's 303 entries.

Why 1e-9: cross-host libm divergence (JVM Math.log intrinsics vs the
driver host's libc vs DuckDB's build) is a few ulps ~ 1e-15 relative;
gating at 1e-9 enforces a 10^6 safety margin. The driver REGENERATES
fixtures between rounds, so each round redraws the boundary lottery —
this test re-runs on whatever fixture the round shipped, catching a
freshly-degenerate margin before the driver does (the r7
dataset_weighted_sample red was this class).

sqrt is exempt: IEEE 754 requires it correctly rounded, so it is
bit-identical everywhere given bit-identical inputs (clears the whole
cosine family). power(2, int) sites were converted to integer shifts
in r8 (registry._BINPACK_SQL).
"""

import duckdb
import pytest

from tools.audit import (
    LIBM_DELTA,
    _wrap_calls,
    entry_delta,
    libm_problems,
    transcendental_entries,
)

from .conftest import SF_CORRECT
from .oracle_harness import duckdb_conn


def _targets():
    import __spark_entry__ as e

    # the entry name is the test ID, so an oracle edit keeps its test's name
    return [
        pytest.param(name, sql, id=name)
        for name, sql in sorted(transcendental_entries(e.oracle_sql()).items())
    ]


@pytest.mark.parametrize("name,sql", _targets())
def test_oracle_invariant_under_libm_perturbation(name, sql):
    con = duckdb_conn(SF_CORRECT)
    # summed-term surfaces gate at 1e-12 (coherent-perturbation
    # pessimism — see tools.audit.SUMMED_TERM_TIER)
    problems = libm_problems(con, sql, entry_delta(name, LIBM_DELTA))
    assert not problems, f"{name}: {problems}"


def test_wrap_calls_rejects_unbalanced_parens():
    with pytest.raises(ValueError, match="unbalanced"):
        _wrap_calls("SELECT ln(1", "(1.0 + 1e-09)")


def test_libm_rejects_sql_without_transcendental_call():
    # nothing to perturb would pass vacuously; it must fail instead
    with duckdb.connect() as con, pytest.raises(ValueError, match="no ln/exp"):
        libm_problems(con, "SELECT sqrt(4.0) AS x", 1e-9)
