"""Local replica of the driver's oracle-differential check (SURVEY.md §5.1).

Runs a registry query on Spark and its oracle SQL on DuckDB over the same
parquet fixtures, then compares row count + column names + an
order-insensitive canonicalized multiset of values. This is the pre-commit
gate; the driver runs its own equivalent per round.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import duckdb

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: DuckDB's own default is 80% of RAM. Every oracle at sf0.01 runs under
#: 4 GB; at sf0.1 ``retrieval_mmr_rerank`` needs 5 GB (peak RSS 5.1 GB
#: at 4 and 8 threads). An oracle that outgrows the cap raises DuckDB's
#: OutOfMemoryException in seconds instead of exhausting a host shared
#: with the Spark driver.
MEMORY_LIMIT = "5GB"


def duckdb_conn(
    sf_dir: str, config: dict | None = None
) -> duckdb.DuckDBPyConnection:
    """One connection with the fixture tables as views, capped at
    ``MEMORY_LIMIT``. ``config`` goes to duckdb.connect on top of the cap
    (the duckdb-shape audit varies threads / insertion-order through
    it) — keep the view bootstrap HERE so every audit shares the one
    registration path."""
    con = duckdb.connect(
        config={
            "memory_limit": MEMORY_LIMIT,
            **{k: str(v).lower() for k, v in (config or {}).items()},
        }
    )
    for t in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_cell(v, strict: bool = False, float_fmt: str = ".4f") -> str:
    """One cell as a string. ``float_fmt`` is the canonical ``.4f`` by
    default; the bitwise audit passes ``.10g`` (10 significant digits)."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == 0:
            v = 0.0  # -0.0 → 0.0
        return format(v, float_fmt)
    if isinstance(v, bool):
        return str(int(v))
    try:
        import numpy as np

        if isinstance(v, np.ndarray):
            v = v.tolist()
        elif isinstance(v, np.generic):
            return _canon_cell(v.item(), strict, float_fmt)
    except ImportError:
        pass
    if isinstance(v, (list, tuple, dict)):
        if strict:
            # The DRIVER's canonicalizer pandas-sorts every column and
            # dies on unhashable cells (r6: three red rows from ArrayType
            # outputs). The driver-replica path (`compare`) mirrors that
            # strictly so a list-valued registry output fails THIS harness
            # before it fails the driver — stringify at the builder
            # (array_join / array_to_string), never here. Internal
            # stream/batch parity checks stay lenient: they never face
            # the driver.
            raise TypeError(
                "unhashable cell (list/map/struct) reached the "
                "driver-replica canonicalizer; project it to a string in "
                f"the registry builder: {v!r}"
            )
        if isinstance(v, dict):
            return (
                "{"
                + ",".join(
                    f"{k}:{_canon_cell(x, float_fmt=float_fmt)}"
                    for k, x in sorted(v.items())
                )
                + "}"
            )
        return "[" + ",".join(_canon_cell(x, float_fmt=float_fmt) for x in v) + "]"
    return str(v)


def canonical_rows(pdf, strict: bool = False, float_fmt: str = ".4f") -> Counter:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    return Counter(
        tuple(_canon_cell(v, strict, float_fmt) for v in row)
        for row in pdf.itertuples(index=False)
    )


def compare(
    spark_df,
    con,
    sql: str,
    name: str = "?",
    strict: bool = True,
    float_fmt: str = ".4f",
) -> list[str]:
    """Return a list of mismatch descriptions (empty = pass)."""
    problems: list[str] = []
    spdf = spark_df.toPandas()
    odf = con.execute(sql).fetchdf()
    if sorted(spdf.columns) != sorted(odf.columns):
        problems.append(
            f"{name}: column mismatch spark={sorted(spdf.columns)} oracle={sorted(odf.columns)}"
        )
        return problems
    if len(spdf) != len(odf):
        problems.append(f"{name}: row count spark={len(spdf)} oracle={len(odf)}")
    a = canonical_rows(spdf, strict, float_fmt)
    b = canonical_rows(odf, strict, float_fmt)
    if a != b:
        only_spark = list((a - b).items())[:3]
        only_oracle = list((b - a).items())[:3]
        problems.append(
            f"{name}: value mismatch; spark-only={only_spark} oracle-only={only_oracle}"
        )
    return problems
