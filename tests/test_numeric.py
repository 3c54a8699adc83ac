"""Pin operators/numeric.py: exact ratio rounding, cross-engine identical.

Ground truth is fractions.Fraction half-away-from-zero rounding; the
Spark Column path and the DuckDB SQL fragment must both reproduce it
bit-for-bit, including on the adversarial half-grid ties that broke
text_quality_classifier in round 5 (e.g. -125/16000 = -0.0078125).
"""

from fractions import Fraction

import duckdb
import pytest
from pyspark.sql import functions as F

from streamlit_projet_spark_streaming_spark.operators.numeric import (
    cents,
    cents_sql,
    ratio_round,
    ratio_round_sql,
)


def _truth(num: int, den: int, scale: int) -> float:
    """Half-away-from-zero rounding of num/den via exact rationals."""
    p = 10**scale
    x = Fraction(num, den)
    sign = -1 if x < 0 else 1
    units = (abs(x) * p + Fraction(1, 2)).__floor__()
    return float(sign * units) / p


# Adversarial: exact half-grid ties (den cancels the grid), plus sign
# cases, tiny/huge magnitudes, and off-grid repeating decimals.
CASES = [
    (-125, 16000, 6),  # the r5 red row: -0.0078125, 6th-decimal tie
    (125, 16000, 6),
    (1, 32, 4),  # 0.03125 -> 4th-decimal tie
    (-1, 32, 4),
    (3, 16, 4),  # 0.1875 -> tie
    (5, 2, 0),  # 2.5 -> integer tie
    (-5, 2, 0),
    (1, 3, 4),  # repeating, off-grid
    (2, 3, 6),
    (0, 7, 4),
    (7, 1, 4),
    (10**14, 3, 4),  # numerator*2e4 far beyond BIGINT after scaling
    (-(10**14) + 1, 7, 6),
    (123456789, 20000, 4),  # 6172.83945 -> tie
    (1, 200000, 4),  # 0.000005 -> tie at the smallest magnitude
    (999999999999, 1000000, 4),
]


def test_ratio_round_spark_matches_fraction(spark):
    df = spark.createDataFrame(
        [(n, d, s) for (n, d, s) in CASES], "num long, den long, scale int"
    )
    for scale in sorted({s for (_, _, s) in CASES}):
        sub = df.filter(F.col("scale") == scale)
        got = {
            (r.num, r.den): r.out
            for r in sub.select(
                "num", "den", ratio_round(F.col("num"), F.col("den"), scale).alias("out")
            ).collect()
        }
        for (n, d), v in got.items():
            assert v == _truth(n, d, scale), (n, d, scale, v, _truth(n, d, scale))


def test_ratio_round_sql_matches_fraction():
    con = duckdb.connect()
    for n, d, s in CASES:
        frag = ratio_round_sql(str(n), str(d), s)
        (v,) = con.execute(f"SELECT {frag}").fetchone()
        assert v == _truth(n, d, s), (n, d, s, v)


def test_ratio_round_fuzz_cross_engine(spark):
    import random

    rng = random.Random(20260813)
    rows = []
    for _ in range(400):
        den = rng.choice(
            [rng.randint(1, 10**6), 2 ** rng.randint(0, 20) * 5 ** rng.randint(0, 8)]
        )
        num = rng.randint(-(10**12), 10**12)
        rows.append((num, den))
    scale = 4
    df = spark.createDataFrame(rows, "num long, den long")
    got = {
        (r.num, r.den): r.out
        for r in df.select(
            "num", "den", ratio_round(F.col("num"), F.col("den"), scale).alias("out")
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE t(num BIGINT, den BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    frag = ratio_round_sql("num", "den", scale)
    duck = {(n, d): v for n, d, v in con.execute(f"SELECT num, den, {frag} FROM t").fetchall()}
    for key in got:
        truth = _truth(key[0], key[1], scale)
        assert got[key] == truth == duck[key], (key, got[key], duck[key], truth)


def test_cents_both_engines(spark):
    vals = [(1234.56,), (0.005,), (-7.125,), (99999999.99,), (0.0,)]
    df = spark.createDataFrame(vals, "x double")
    (got,) = df.agg(cents(F.sum("x")).alias("c")).collect()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?)", vals)
    (duck,) = con.execute(f"SELECT {cents_sql('SUM(x)')} FROM t").fetchone()
    assert got.c == duck == 10000122743  # 100001227.43 dollars -> cents


def test_ratio_threshold_forms_match_rounded_compare(spark):
    """ratio_round_ge must equal comparing the rounded ratio —
    including AT the boundary where rounding decides the verdict."""
    from streamlit_projet_spark_streaming_spark.operators.numeric import (
        ratio_round_ge,
    )

    rows = [(n, d) for d in (7, 16, 2000, 9999) for n in range(0, 3 * d, max(1, d // 50))]
    df = spark.createDataFrame(rows, "num long, den long")
    out = df.select(
        "num",
        "den",
        ratio_round(F.col("num"), F.col("den"), 4).alias("r"),
        ratio_round_ge(F.col("num"), F.col("den"), 0.45, 4).alias("ge"),
    ).collect()
    for r in out:
        assert r.ge == (r.r >= 0.45), r


def test_quality_keep_equals_filtered_quality_scores(spark):
    """quality_keep's integer predicate selects EXACTLY the docs whose
    rounded quality_score passes the threshold."""
    from streamlit_projet_spark_streaming_spark.operators.text import (
        quality_keep,
        quality_scores,
    )
    from streamlit_projet_spark_streaming_spark.sources.catalog import load_table

    docs = load_table(spark, "documents", "/root/testdata/sf0.01")
    via_filter = {
        r.doc_id
        for r in quality_scores(docs)
        .filter(F.col("quality_score") >= 0.45)
        .select("doc_id")
        .collect()
    }
    via_keep = {r.doc_id for r in quality_keep(docs, 0.45).collect()}
    assert via_keep == via_filter
    assert via_keep  # non-degenerate at sf0.01


def test_ratio_units_matches_ratio_round(spark):
    """ratio_units is ratio_round without the final double division:
    units / 10^scale must equal the rounded double exactly, and summing
    units stays in integer space."""
    import duckdb

    from streamlit_projet_spark_streaming_spark.operators.numeric import (
        ratio_round,
        ratio_units,
        ratio_units_sql,
    )

    rows = [(i, n, d) for i, (n, d) in enumerate(
        [(1, 3), (125, 16000), (7, 2), (0, 5), (999999, 1000000), (1, 2000000)]
    )]
    df = spark.createDataFrame(rows, "id long, n long, d long")
    got = df.select(
        "id",
        ratio_units(F.col("n"), F.col("d"), 6).alias("u"),
        ratio_round(F.col("n"), F.col("d"), 6).alias("r"),
    ).collect()
    for row in got:
        assert float(row["u"]) / 1e6 == row["r"], (row["u"], row["r"])
    con = duckdb.connect()
    for _, n, d in rows:
        (u,) = con.execute(
            f"SELECT {ratio_units_sql(str(n), str(d), 6)}"
        ).fetchone()
        sval = next(
            float(r["u"]) for r in got
            if rows[r["id"]][1] == n and rows[r["id"]][2] == d
        )
        assert float(u) == sval, (n, d, u, sval)


def test_sqrt_ratio_round_newton_seed_beyond_float_range(spark):
    """Perfect squares with dd ~1e34 — far past where the float sqrt
    seed alone is within ±1 (~4e31) — must still take the exact
    rational branch on BOTH engines (the two Newton refinement steps)."""
    from decimal import Decimal

    import duckdb

    from streamlit_projet_spark_streaming_spark.operators.numeric import (
        attach_sqrt_ratio_round,
        sqrt_ratio_round_ctes,
    )

    k = 10**17 + 12345  # dd = k^2 ~ 1e34
    df = spark.createDataFrame([(Decimal(k),)], "k decimal(38,0)")
    got = attach_sqrt_ratio_round(
        df, F.col("k"), F.col("k"), F.col("k"), 6, "r"
    ).collect()[0]["r"]
    assert got == 1.0, got  # rational branch: k/sqrt(k*k) exactly

    con = duckdb.connect()
    sql = (
        f"WITH src AS (SELECT 1 AS one), "
        + sqrt_ratio_round_ctes(str(k), str(k), str(k), 6, "src")
        + " SELECT r_rounded FROM _sqr"
    )
    (dk,) = con.execute(sql).fetchone()
    assert dk == 1.0, dk
