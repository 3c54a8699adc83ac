"""Table catalog over the parquet fixtures (SURVEY.md §2.A: A1-A3).

The reference reads one BigQuery table plus four views
(``/root/reference/streamlit/streamlit_app.py:164-190``, view fetches
``:223-281``). Here the catalog is a parquet directory: one file per table,
registered as temp views so both the DataFrame API and ``spark.sql`` reach
them. Projection pruning and predicate pushdown reach the parquet scan
because nothing materializes between ``spark.read.parquet`` and the query.

Scale stance: at 100 TB these would be partitioned/bucketed tables
(``orders`` and ``lineitem`` bucketed by their join keys, ``events``
partitioned by date). The loader keeps that decision out of query code —
queries name tables, never paths.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

#: Every fixture table the driver generates (TESTDATA.md).
TABLES = (
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

#: Every timestamp column the fixtures carry, by table. The ns-long and
#: NTZ normalizations below apply to ALL of them — the driver has already
#: switched encodings once (r3→r4: events.ts AND the two date columns
#: moved TIMESTAMP(NANOS) → µs-NTZ together), so no column gets a
#: special case the others lack.
TS_COLS: dict[str, tuple[str, ...]] = {
    "events": ("ts",),
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
}

#: Every DOUBLE-typed measurement column, by table. NaN in any of them
#: becomes NULL at the catalog boundary on BOTH engines (r8): NaN
#: passes every `x IS NOT NULL` filter and then crashes the ANSI
#: fixed-point cents/quantity casts the money pipeline is built on
#: (CAST_OVERFLOW on round(NaN·100)::BIGINT — the events probe crashed
#: 13 entries and silently diverged 2 more from ONE NaN row; the TPC-H
#: money columns are the same nullable DOUBLEs). The row is kept — only
#: the measurement is nulled — so value-agnostic counts are untouched
#: and NaN inherits the audited NULL semantics. DuckDB twins:
#: registry's per-table oracle rewriters.
MEASURE_DOUBLE_COLS: dict[str, tuple[str, ...]] = {
    "events": ("value",),
    "orders": ("o_totalprice",),
    "lineitem": ("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
    "customer": ("c_acctbal",),
    "part": ("p_retailprice",),
    "supplier": ("s_acctbal",),
}

#: IDENTITY columns, by table: a row whose identity is NULL is a
#: malformed record and is DROPPED at the boundary on both engines
#: (r8 v9). Rationale mirrors the NULL-ts rule: these columns name the
#: entity (event id/actor/type, document id, vector id, the TPC-H
#: primary keys) and feed rank tie-breakers and window partitions
#: DIRECTLY — a NULL there splits on Spark-vs-DuckDB NULLS placement
#: per ORDER BY site, and "the 900001-th event of user NULL" is not a
#: meaningful fact. ATTRIBUTE columns (text, lang, source, label,
#: props, every measure) deliberately stay nullable — their NULL
#: semantics are probed and handled per entry (the v2 NULL-injection
#: program). DuckDB twins: registry's generated boundary subqueries.
#: Membership is justified by ACTUAL rank/tie-break usage, because each
#: identity filter adds its column to EVERY scan of the table (the
#: PLANS.md boundary-cost note): l_linenumber is deliberately absent —
#: no entry ranks or groups on it, so a NULL there is unobservable and
#: not worth widening every lineitem scan at 100 TB.
IDENTITY_COLS: dict[str, tuple[str, ...]] = {
    "events": ("event_id", "user_id", "event_type"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
    "orders": ("o_orderkey",),
    "lineitem": ("l_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "supplier": ("s_suppkey",),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Read one fixture table, normalizing every timestamp column to
    ``TimestampType`` (µs, UTC) whatever the parquet encoding.

    The driver has regenerated the fixtures with different encodings across
    rounds; ``load_table`` is the single normalization boundary so query
    code always sees ``TimestampType``:

    - parquet TIMESTAMP(NANOS) (no native Spark type): read as nanosecond
      longs (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to
      microseconds (``ts DIV 1000`` — integer division; ns epochs exceed
      2^53 so float division would corrupt them). DuckDB applies the same
      ns→µs truncation, keeping the oracle comparison exact.
    - parquet ``timestamp[us]`` without timezone: Spark reads it as
      ``TIMESTAMP_NTZ``, which ``unix_micros``/``unix_millis`` reject.
      Under the UTC session timeZone (session.get_spark) the cast to
      ``TimestampType`` is a pure relabel — identical instants, no
      arithmetic — and DuckDB treats the column as plain TIMESTAMP, so
      the oracle comparison stays exact.
    - parquet ``timestamp[us]`` with timezone: already ``TimestampType``;
      both branches below no-op.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    # Driver-owned sessions never pass through session.get_spark, but
    # every registry query reads through HERE — ship the package zip to
    # the Python workers so Arrow mappers can import it whatever the
    # harness cwd (VERDICT r8 item 1; no-op after the first call per
    # SparkContext). Import deferred to avoid a module-load cycle.
    from ..session import ensure_package_on_workers

    ensure_package_on_workers(spark)
    if name in TS_COLS:
        # Engine-wide confs (see session.get_spark); re-set here because
        # the driver owns its own session. NOTE nanosAsLong affects how
        # ANY TIMESTAMP(NANOS) parquet column reads in this session — by
        # engine contract such columns go through load_table, which
        # converts them explicitly below. The UTC session timezone is
        # what makes the NTZ→TimestampType cast below a pure relabel; on
        # a non-UTC driver host, relying on session.get_spark to have set
        # it would silently shift every instant (ADVICE r5).
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in TS_COLS.get(name, ()):
        if isinstance(df.schema[c].dataType, LongType):
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} DIV 1000")))
    ntz_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, TimestampNTZType)
    ]
    if ntz_cols:
        # Belt-and-braces for tables outside TS_COLS that grow an NTZ
        # column in a future fixture regeneration: the cast below is only
        # a relabel under UTC.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = df.withColumns(
            {c: F.col(c).cast("timestamp") for c in ntz_cols}
        )
    if name == "embeddings":
        # Zero (or NULL/empty) vectors are excluded from the embedding
        # corpus AT THIS BOUNDARY on both engines: cosine is undefined
        # for them, and under Spark 4's default ANSI mode the 0/0 raises
        # DIVIDE_BY_ZERO where DuckDB yields NULL — one degenerate row in
        # a regenerated fixture would crash the whole similarity family
        # (r8 degenerate-fixture audit: 22 entries). A zero vector is a
        # failed encode; no retrieval system indexes one. Non-FINITE
        # components are excluded by the same argument (r8 v6 probe): a
        # NaN/Inf coordinate poisons every cosine and crashes the
        # integer-unit Arrow mappers (int(round(nan)) → ValueError;
        # inf·1e6 overflows the int64 cast). Both engines rank NaN above
        # +Inf above finite in array max/min (probed), so isnan(max) /
        # max=+Inf / min=-Inf detect any non-finite component with pure
        # codegen builtins — no higher-order functions at the scan.
        # DuckDB twin: registry._exclude_zero_vectors (rewrites every
        # oracle).
        df = df.filter(
            (
                (F.array_max("embedding") != F.lit(0.0))
                | (F.array_min("embedding") != F.lit(0.0))
            )
            & ~F.isnan(F.array_max("embedding"))
            & (F.array_max("embedding") != F.lit(float("inf")))
            & (F.array_min("embedding") != F.lit(float("-inf")))
        )
    # NaN measurements become NULL AT THIS BOUNDARY on both engines
    # (see MEASURE_DOUBLE_COLS). A NaN value is a failed measurement;
    # nulling it (not dropping the row) keeps value-agnostic counts
    # intact and routes NaN through the NULL semantics every entry
    # already handles (r8 NULL-injection audit). DuckDB twins: the
    # per-table oracle rewriters in registry.
    nan_cols = MEASURE_DOUBLE_COLS.get(name, ())
    if nan_cols:
        df = df.withColumns(
            {c: F.when(~F.isnan(c), F.col(c)) for c in nan_cols}
        )
    # A row whose TIMESTAMP column is NULL is DROPPED (not nulled): a
    # fact that cannot be placed in time is unusable for every
    # sequence/window/grid consumer, and a NULL instant entering rank
    # tie-breakers splits on Spark-vs-DuckDB NULLS placement per ORDER
    # BY — dropping at the one boundary closes the whole class instead
    # of auditing every temporal ORDER BY (r8 v6/v8 probes; applies
    # uniformly to events.ts, orders.o_orderdate, lineitem.l_shipdate).
    # Mirrors the streaming consumer's malformed-row drop.
    for c in TS_COLS.get(name, ()):
        df = df.filter(F.col(c).isNotNull())
    # A row whose IDENTITY column is NULL is a malformed record —
    # dropped (see IDENTITY_COLS).
    for c in IDENTITY_COLS.get(name, ()):
        df = df.filter(F.col(c).isNotNull())
    return df


def register_tables(
    spark: SparkSession,
    sf_dir: str = DEFAULT_SF_DIR,
    names: tuple[str, ...] = TABLES,
) -> None:
    """Register fixture tables as temp views (A2/A3: view scan after
    ``createOrReplaceTempView``)."""
    for name in names:
        load_table(spark, name, sf_dir).createOrReplaceTempView(name)
