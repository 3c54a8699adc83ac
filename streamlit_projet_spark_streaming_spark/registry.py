"""Driver-facing query registry: named PySpark queries + DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 gets one entry here; the driver
runs the Spark builder and the oracle SQL side-by-side at sf=0.01 and
compares row-count + schema + order-insensitive value hash
(``/root/repo/__spark_entry__.py``). Keeping both halves adjacent in this
module is the sync mechanism for the "column names must match" contract.

Determinism rules applied throughout (SURVEY.md §5, FIXTURES.md §C):
  1. every ROW_NUMBER / top-k order carries a unique tie-breaker;
  2. ordered ARRAY_AGGs tie-break on the element value;
  3. float aggregates are ROUND(x, 4) on both sides;
  4. timestamps cross the hash boundary as epoch integers (``unix_millis``
     vs ``epoch_ms``), never as engine-formatted timestamps.
"""

from __future__ import annotations

import re as _re
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators import quantize as _quant
from .operators.graph import LP_MAX_MIDDLE_DEGREE, LP_TOP_K, PAGERANK_ITERS
from .operators.relational import (
    bucketize,
    histogram,
    latest_n,
    pivot_counts,
    stable_avg,
    top_k_per_group,
    TOP_K_PER_GROUP,
    value_counts,
)
from .operators.numeric import (
    cents,
    cents_sql,
    ratio_round,
    ratio_round_sql,
    stable_avg_spark_sql,
)
from .operators.numeric import stable_avg_sql as _savg
from .plans.shopping_views import stats_plus_top1, stats_plus_top3
from .sources.catalog import IDENTITY_COLS as _CAT_IDENT
from .sources.catalog import MEASURE_DOUBLE_COLS as _CAT_MEASURES
from .sources.catalog import TS_COLS as _CAT_TS
from .sources.catalog import load_table


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL the driver compares the builder against
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


#: Zero (or NULL/empty) embedding vectors are EXCLUDED from the corpus at
#: the catalog boundary on both engines: cosine is undefined for them
#: (0/0 — Spark 4's ANSI mode raises DIVIDE_BY_ZERO where DuckDB yields
#: NULL, so one degenerate row crashes the whole similarity family; r8
#: degenerate-fixture audit, tools/degenerate_audit.py, 22 entries). A
#: zero vector is a failed encode — no retrieval system indexes one. The
#: Spark twin lives in sources/catalog.py::load_table.
#: Non-finite components are excluded by the same argument (r8 v6
#: probe): both engines rank NaN above +Inf above finite in list/array
#: max-min (probed), so isnan(max) / max=+Inf / min=-Inf detect any
#: non-finite coordinate. Spark twin: sources/catalog.py::load_table.
_NZ_EMB_SUBQ = (
    "(SELECT * FROM embeddings AS __raw_emb"
    " WHERE (list_max(__raw_emb.embedding) <> 0"
    " OR list_min(__raw_emb.embedding) <> 0)"
    " AND NOT isnan(list_max(__raw_emb.embedding))"
    " AND list_max(__raw_emb.embedding) <> 'infinity'::DOUBLE"
    " AND list_min(__raw_emb.embedding) <> '-infinity'::DOUBLE"
    " AND __raw_emb.vec_id IS NOT NULL)"
)


def _make_table_rewriter(table: str, subq: str, pin: str):
    """Build a rewriter replacing every ``table`` reference in oracle
    SQL with ``subq`` — aliased (``FROM t x``, ``JOIN t AS x``) and
    bare forms. Idempotent (the subquery's own inner reference is
    pinned by the ``AS {pin}`` lookahead); fails loudly at import if a
    form the rewrites don't cover remains (an unrewritten aliased FROM
    previously slipped through as invalid double-alias SQL that only
    died at driver runtime — r8 review catch). Comma-join lists are
    covered only in FROM-first position (``FROM events, b`` — the FROM
    form); a base table in a NON-first comma position (``FROM x,
    orders``) is rejected loudly at registration by ``_register``'s
    comma guard, because neither this rewriter's trigger nor its
    leftover assert would see it (r8 review catch — the silent-bypass
    hole)."""
    not_alias = (
        rf"(?!AS\s+{pin})(?!{pin}\b)"
        r"(?!(?:WHERE|GROUP|ORDER|UNION|JOIN|ON|USING|LEFT|RIGHT|FULL|CROSS"
        r"|INNER|ANTI|SEMI|LIMIT|HAVING|QUALIFY|WINDOW|EXCEPT|INTERSECT"
        r"|SELECT)\b)"
    )

    def rewrite(sql: str) -> str:
        # aliased forms first (FROM/JOIN t [AS] <alias>), keeping the
        # alias on the subquery
        out = _re.sub(
            rf"\b(FROM|JOIN)\s+{table}\s+(?:AS\s+)?{not_alias}(\w+)",
            lambda m: f"{m.group(1)} {subq} {m.group(2)}",
            sql,
        )
        # bare forms: the subquery takes the table name as its alias
        out = _re.sub(
            rf"\b(FROM|JOIN)\s+{table}\b(?!\s+AS\s+{pin})",
            lambda m: f"{m.group(1)} {subq} {table}",
            out,
        )
        leftover = _re.search(
            rf"\b(FROM|JOIN)\s+{table}\b(?!\s+AS\s+{pin})", out
        )
        if leftover is not None:
            # registration-time invariant — a real exception, not an
            # assert, so `python -O` cannot strip it into a silent
            # oracle/engine divergence (ADVICE r8)
            raise ValueError(
                f"unhandled {table} reference form: ...{out[max(0, leftover.start() - 40): leftover.end() + 40]}..."
            )
        return out

    return rewrite


#: Full fixture column lists (generator schema, pinned against the
#: real parquet schemas by test_catalog_encodings.py::
#: test_table_cols_match_fixture_schemas) — the boundary subqueries
#: must re-emit every column explicitly to wrap the NaN-bearing
#: measures.
_TABLE_COLS: dict[str, tuple[str, ...]] = {
    "events": ("event_id", "ts", "user_id", "event_type", "value", "props"),
    "orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ),
    "lineitem": (
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax",
        "l_returnflag", "l_linestatus", "l_shipdate",
    ),
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "part": ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    "supplier": ("s_suppkey", "s_name", "s_nationkey", "s_acctbal"),
    "documents": ("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings": ("vec_id", "embedding", "label"),
}


def _boundary_subq(table: str, pin: str) -> str:
    """DuckDB twin of the catalog-boundary normalization in
    sources/catalog.py::load_table, generated from the SAME policy
    tables (MEASURE_DOUBLE_COLS / TS_COLS): NaN in any DOUBLE measure
    column becomes NULL (row kept — NaN passes IS NOT NULL filters and
    then crashes the ANSI fixed-point casts, r8 probe); a row whose
    timestamp column is NULL is dropped (a fact that cannot be placed
    in time splits every rank tie-breaker on engine NULLS placement,
    r8 v6/v8 probes)."""
    nan = set(_CAT_MEASURES.get(table, ()))
    cols = ", ".join(
        f"CASE WHEN isnan({pin}.{c}) THEN NULL ELSE {pin}.{c} END AS {c}"
        if c in nan
        else c
        for c in _TABLE_COLS[table]
    )
    # ts rows that cannot be placed in time AND identity-less rows are
    # dropped (see catalog.TS_COLS / catalog.IDENTITY_COLS)
    drop_cols = _CAT_TS.get(table, ()) + _CAT_IDENT.get(table, ())
    where = (
        " WHERE " + " AND ".join(f"{pin}.{c} IS NOT NULL" for c in drop_cols)
        if drop_cols
        else ""
    )
    return f"(SELECT {cols} FROM {table} AS {pin}{where})"


#: table -> (idempotency pin alias, rewriter). embeddings keeps its
#: special EXCLUSION subquery (_NZ_EMB_SUBQ); the six measure-bearing
#: tables get generated NaN-null/ts-drop boundary subqueries.
_BOUNDARY_REWRITERS: dict[str, Callable[[str], str]] = {
    "embeddings": _make_table_rewriter(
        "embeddings", _NZ_EMB_SUBQ, "__raw_emb"
    ),
    **{
        table: _make_table_rewriter(
            table, _boundary_subq(table, pin), pin
        )
        for table, pin in (
            ("events", "__raw_ev"),
            ("orders", "__raw_ord"),
            ("lineitem", "__raw_li"),
            ("customer", "__raw_cust"),
            ("part", "__raw_part"),
            ("supplier", "__raw_supp"),
            ("documents", "__raw_doc"),
        )
    },
}


def _register(name: str, oracle: str, doc: str = ""):
    for table, rewriter in _BOUNDARY_REWRITERS.items():
        # a base table in a NON-first comma-join position would
        # bypass both the trigger below and the rewriter's leftover
        # check — reject it loudly instead (write `FROM t, x` /
        # an explicit JOIN, never `FROM x, t`); zero such forms
        # exist today (grepped r8). The `(?!\s*\.)` lookahead keeps
        # qualified column refs after a comma (`SELECT a, part.p_type`)
        # from tripping the guard (ADVICE r8); ValueError not assert
        # so `python -O` can't strip the invariant.
        comma = _re.search(rf",\s*{table}\b(?!\s*\.)", oracle)
        if comma is not None:
            raise ValueError(
                f"{name}: base table {table!r} in a comma-join position "
                f"the boundary rewriter cannot see: ..."
                f"{oracle[max(0, comma.start() - 40): comma.end() + 40]}..."
            )
        if _re.search(rf"\b(FROM|JOIN)\s+{table}\b", oracle):
            oracle = rewriter(oracle)

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        REGISTRY[name] = QuerySpec(name, fn, oracle, doc)
        return fn

    return deco


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, name, sf_dir)


#: The undirected co-purchase edge set of an ``lp(l_orderkey,
#: l_partkey)`` CTE, as the graph oracles write it.
_UND_SQL = """und AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


def _lineitem_1998(spark: SparkSession, sf: str) -> DataFrame:
    """Line items shipped in 1998 or later: the co-purchase graph
    builders' input."""
    return _t(spark, sf, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp")
    )


def _doc_kgrams(spark: SparkSession, docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, sh): every window of ``k`` consecutive normalized
    tokens of each document, ``pos`` 1-based, ``sh`` the tokens joined
    by ' ' (documents shorter than ``k`` have none). Shared by the
    winnowing / recall-audit / longest-common-run builders.

    The doc-keyed spread is applied BEFORE the posexplode: the
    downstream per-doc window exchange is byte-small, so AQE would
    coalesce it to 1 task and the gram hashing + sliding window — the
    CPU of these queries — would run serially (the byte-small /
    CPU-bound trap; winnowing went 2.0 -> 0.7 s warm at sf0.1 once
    pinned). Repartitioning the DOCS side (not the exploded tokens)
    shuffles one row per document instead of one per token AND
    parallelizes the explode itself; Generate preserves the child's
    hash partitioning on doc_id, so the window adds no extra
    exchange."""
    from pyspark.sql import Window

    from .operators.dedup import _norm

    par = spark.sparkContext.defaultParallelism
    toks = docs.repartition(par, "doc_id").select(
        "doc_id",
        F.posexplode(F.split(_norm(F.col("text")), " ")).alias("pos0", "w"),
    )
    wl = Window.partitionBy("doc_id").orderBy("pos0")
    gram = F.concat_ws(
        " ", F.col("w"), *[F.lead("w", j).over(wl) for j in range(1, k)]
    )
    return (
        toks.select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            gram.alias("sh"),
            F.lead("w", k - 1).over(wl).alias("w_last"),
        )
        .filter(F.col("w_last").isNotNull())
        .drop("w_last")
    )


def _cc_ctes(src: str, a: str = "doc_a", b: str = "doc_b") -> str:
    """edges → reach → labels transitive-closure CTE block (the DuckDB
    twin of ``operators/dedup.py::duplicate_clusters``), parameterized
    by the pair source — ONE copy of the recursive closure for every
    oracle that clusters a pair table (ngram CC, MinHash clusters,
    invoice clusters, dedup-aware weights)."""
    return f"""edges AS (
      SELECT {a} AS a, {b} AS b FROM {src}
      UNION ALL
      SELECT {b} AS a, {a} AS b FROM {src}
    ),
    reach(n, m) AS (
      SELECT DISTINCT a, a FROM edges
      UNION
      SELECT r.n, e.b FROM reach r JOIN edges e ON e.a = r.m
    ),
    labels AS (SELECT n AS doc_id, MIN(m) AS cluster_id FROM reach GROUP BY n)"""


# --------------------------------------------------------------------------
# The four reference views (SURVEY.md §2.J), fixture-mapped (FIXTURES.md §A):
# age → o_totalprice buckets, gender → o_orderstatus, category →
# o_orderpriority, location → c_mktsegment, spend → o_totalprice. The
# Spark side is the shopping gold layer's builders with fixture columns.
# --------------------------------------------------------------------------

#: Six price buckets standing in for the reference's six age buckets
#: (``bigquery_views.sql:5-12``). Upper-bound-exclusive edges + overflow.
PRICE_BUCKET_EDGES = (50_000.0, 100_000.0, 200_000.0, 300_000.0, 400_000.0)
PRICE_BUCKET_LABELS = ("<50k", "50-100k", "100-200k", "200-300k", "300-400k", "400k+")

#: The same bucketing as a SQL CASE fragment for the oracles.
PRICE_BUCKET_SQL = (
    "CASE WHEN o_totalprice < 50000 THEN '<50k' "
    "WHEN o_totalprice < 100000 THEN '50-100k' "
    "WHEN o_totalprice < 200000 THEN '100-200k' "
    "WHEN o_totalprice < 300000 THEN '200-300k' "
    "WHEN o_totalprice < 400000 THEN '300-400k' "
    "ELSE '400k+' END"
)


def price_bucket_col() -> Column:
    return bucketize(F.col("o_totalprice"), PRICE_BUCKET_EDGES, PRICE_BUCKET_LABELS)


_PRICE_AVG = (("avg_price", "o_totalprice"),)

_register(
    "v_price_bucket_preferences",
    f"""
    WITH bucketed AS (
      SELECT {PRICE_BUCKET_SQL} AS price_bucket, o_totalprice, o_orderpriority FROM orders
    ), stats AS (
      SELECT price_bucket, COUNT(*) AS orders,
             {_savg('o_totalprice')} AS avg_price
      FROM bucketed GROUP BY price_bucket
    ), counts AS (
      SELECT price_bucket, o_orderpriority, COUNT(*) AS cnt
      FROM bucketed GROUP BY price_bucket, o_orderpriority
    ), top AS (
      SELECT price_bucket, o_orderpriority AS top_priority
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY price_bucket
              ORDER BY cnt DESC, o_orderpriority ASC) AS rn
            FROM counts)
      WHERE rn = 1
    )
    SELECT s.price_bucket, s.orders, s.avg_price, t.top_priority
    FROM stats s LEFT JOIN top t ON s.price_bucket = t.price_bucket
    """,
    doc="View 1 / flagship: v_age_preferences analog (bigquery_views.sql:2-43)",
)(
    lambda spark, sf: stats_plus_top1(
        _t(spark, sf, "orders").select(
            price_bucket_col().alias("price_bucket"), "o_totalprice", "o_orderpriority"
        ),
        "price_bucket",
        "o_orderpriority",
        "top_priority",
        _PRICE_AVG,
    )
)


_register(
    "v_status_preferences",
    f"""
    WITH stats AS (
      SELECT o_orderstatus, COUNT(*) AS orders,
             {_savg('o_totalprice')} AS avg_price
      FROM orders GROUP BY o_orderstatus
    ), counts AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt
      FROM orders GROUP BY o_orderstatus, o_orderpriority
    ), top AS (
      SELECT o_orderstatus, o_orderpriority AS top_priority
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY o_orderstatus
              ORDER BY cnt DESC, o_orderpriority ASC) AS rn
            FROM counts)
      WHERE rn = 1
    )
    SELECT s.o_orderstatus, s.orders, s.avg_price, t.top_priority
    FROM stats s LEFT JOIN top t ON s.o_orderstatus = t.o_orderstatus
    """,
    doc="View 2: v_gender_preferences analog (bigquery_views.sql:46-72)",
)(
    lambda spark, sf: stats_plus_top1(
        _t(spark, sf, "orders"), "o_orderstatus", "o_orderpriority", "top_priority", _PRICE_AVG
    )
)


_register(
    "v_segment_preferences",
    f"""
    WITH seg AS (
      SELECT c.c_mktsegment, o.o_totalprice, o.o_orderpriority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), stats AS (
      SELECT c_mktsegment, COUNT(*) AS orders,
             {_savg('o_totalprice')} AS avg_spend
      FROM seg GROUP BY c_mktsegment
    ), counts AS (
      SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt
      FROM seg GROUP BY c_mktsegment, o_orderpriority
    ), top3 AS (
      SELECT c_mktsegment, o_orderpriority, cnt
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY c_mktsegment
              ORDER BY cnt DESC, o_orderpriority ASC) AS rn
            FROM counts)
      WHERE rn <= 3
    )
    SELECT s.c_mktsegment, s.orders, s.avg_spend,
           array_to_string(
             list(t.o_orderpriority ORDER BY t.cnt DESC, t.o_orderpriority ASC),
             '|') AS top_priorities
    FROM stats s LEFT JOIN top3 t ON s.c_mktsegment = t.c_mktsegment
    GROUP BY s.c_mktsegment, s.orders, s.avg_spend
    """,
    doc="View 3: v_location_preferences analog — top-3 + ordered ARRAY_AGG "
    "(bigquery_views.sql:75-100). The registered projection joins the "
    "ARRAY<STRING> into a '|'-separated string (order-preserving, so it "
    "carries the same information) because the driver's pandas hash "
    "canonicalizer cannot factorize list cells; the array-valued form is "
    "shopping_views.stats_plus_top3's own output. The customer dimension is "
    "broadcast, so attaching segments never shuffles the fact table.",
)(
    lambda spark, sf: stats_plus_top3(
        _t(spark, sf, "orders").join(
            F.broadcast(
                _t(spark, sf, "customer").select(
                    F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
                )
            ),
            "o_custkey",
        ),
        "c_mktsegment",
        "o_orderpriority",
        "top_priorities",
        (("avg_spend", "o_totalprice"),),
    ).withColumn("top_priorities", F.array_join("top_priorities", "|"))
)


_register(
    "v_bucket_status_priority",
    f"""
    SELECT {PRICE_BUCKET_SQL} AS price_bucket, o_orderstatus, o_orderpriority,
           COUNT(*) AS orders, {_savg('o_totalprice')} AS avg_price
    FROM orders
    GROUP BY 1, 2, 3
    """,
    doc="View 4: v_age_gender_category analog — 3-key GROUP BY "
    "(bigquery_views.sql:103-126)",
)(
    lambda spark, sf: _t(spark, sf, "orders")
    .groupBy(price_bucket_col().alias("price_bucket"), "o_orderstatus", "o_orderpriority")
    .agg(
        F.count(F.lit(1)).alias("orders"),
        stable_avg("o_totalprice").alias("avg_price"),
    )
    .orderBy("price_bucket", "o_orderstatus", "o_orderpriority")
)


# --------------------------------------------------------------------------
# Dashboard aggregates (SURVEY.md §2.D/F/G) on the fixture tables.
# --------------------------------------------------------------------------


@_register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 4) AS sum_qty,
           ROUND(SUM(l_extendedprice), 4) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           {_savg('l_quantity')} AS avg_qty,
           {_savg('l_extendedprice')} AS avg_price,
           {_savg('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: the canonical partial+final hash "
    "aggregation the reference delegates to BigQuery (SURVEY.md §4)",
)
def _pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "sum_disc_price"
        ),
        stable_avg("l_quantity").alias("avg_qty"),
        stable_avg("l_extendedprice").alias("avg_price"),
        stable_avg("l_discount").alias("avg_disc"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "global_stats",
    f"""
    SELECT COUNT(*) AS n_rows,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           {_savg('l_extendedprice')} AS avg_price,
           {_savg('l_discount')} AS avg_discount
    FROM lineitem
    """,
    doc="Global scalar aggregates [D8]: len/sum/mean row of the dashboard "
    "(streamlit_app.py:333-336)",
)
def _global_stats(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
        stable_avg("l_extendedprice").alias("avg_price"),
        stable_avg("l_discount").alias("avg_discount"),
    )


@_register(
    "value_counts_event_type",
    """
    SELECT event_type, COUNT(*) AS cnt
    FROM events GROUP BY event_type
    """,
    doc="value_counts frequency table [D16] (streamlit_app.py:426,727,907)",
)
def _value_counts_event_type(spark: SparkSession, sf: str) -> DataFrame:
    return value_counts(_t(spark, sf, "events"), "event_type")


@_register(
    "hourly_series",
    """
    SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY 1
    """,
    doc="Hourly tumbling series [G1/G2/D11]: dt.floor('H') count+sum "
    "(streamlit_app.py:374-379); the Consumer's gold hourly_series is the "
    "same date_trunc aggregate over silver (SURVEY §2.H6)",
)
def _hourly_series(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    return (
        ev.groupBy(
            F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).alias("hour_ts")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("hour_ts")
    )


@_register(
    "top_categories_by_revenue",
    """
    SELECT p.p_type AS category,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_type
    ORDER BY revenue DESC, category ASC
    LIMIT 10
    """,
    doc="Group-sum, global sort, head [D17/F5/F6] (streamlit_app.py:440) with "
    "a broadcast dim join — part is a dimension, the fact never shuffles",
)
def _top_categories_by_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").select("p_partkey", "p_type")
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("p_type").alias("category"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("category"))
        .limit(10)
    )


@_register(
    "latest_events",
    """
    SELECT event_id, event_type, ROUND(value, 4) AS value,
           epoch_ms(ts) AS ts_ms
    FROM events
    ORDER BY ts DESC, event_id DESC
    LIMIT 100
    """,
    doc="Latest-N scan [F1]: ORDER BY ts DESC LIMIT n "
    "(streamlit_app.py:188-189) → TakeOrderedAndProject, no full sort",
)
def _latest_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    return latest_n(ev, "ts", 100, tiebreak="event_id").select(
        "event_id",
        "event_type",
        F.round("value", 4).alias("value"),
        F.unix_millis(F.col("ts")).alias("ts_ms"),
    )


@_register(
    "histogram_event_value",
    """
    WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
    SELECT CAST(CASE WHEN hi = lo THEN 0
                ELSE LEAST(FLOOR((value - lo) * 20 / (hi - lo)), 19)
                END AS BIGINT) AS bin,
           COUNT(*) AS cnt
    FROM events, b
    GROUP BY 1
    """,
    doc="Equal-width histogram [G3]: px.histogram(nbins) as a distributed "
    "two-agg plan (streamlit_app.py:455-461)",
)
def _histogram_event_value(spark: SparkSession, sf: str) -> DataFrame:
    return histogram(_t(spark, sf, "events"), "value", nbins=20)


@_register(
    "pivot_segment_status",
    """
    SELECT c.c_mktsegment,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'F') AS F,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'O') AS O,
           COUNT(*) FILTER (WHERE o.o_orderstatus = 'P') AS P
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="pivot_table reshape [E4/C4] (streamlit_app.py:645-651): explicit "
    "pivot values skip the distinct-scan job and fix column order",
)
def _pivot_segment_status(spark: SparkSession, sf: str) -> DataFrame:
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    joined = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
    ).select("c_mktsegment", "o_orderstatus")
    return pivot_counts(joined, "c_mktsegment", "o_orderstatus", ["F", "O", "P"])


@_register(
    "qty_pivot_returnflag",
    """
    SELECT l_returnflag,
           ROUND(COALESCE(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 0), 4) AS F,
           ROUND(COALESCE(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 0), 4) AS O
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Second pivot shape [E4]: category×satisfaction sum-pivot with fixed "
    "column order + fill 0 (streamlit_app.py:882-894)",
)
def _qty_pivot_returnflag(spark: SparkSession, sf: str) -> DataFrame:
    li = _t(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.round(F.sum("l_quantity"), 4))
        .na.fill(0)
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# Filters / predicates / derived columns (SURVEY.md §2.B, D9-D13)
# --------------------------------------------------------------------------


@_register(
    "vip_premium_subset",
    f"""
    SELECT o_orderpriority,
           COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 4) AS total,
           {_savg('o_totalprice')} AS avg_amount
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice > 400000
    GROUP BY o_orderpriority
    """,
    doc="Conjunctive compound filter + per-group aggs [B5/B6/D10/D12]: the "
    "VIP & Premium subset analysis (streamlit_app.py:685-707). Predicate "
    "pushes to the parquet scan.",
)
def _vip_premium_subset(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "orders")
        .filter((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") > 400000))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 4).alias("total"),
            stable_avg("o_totalprice").alias("avg_amount"),
        )
    )


@_register(
    "anomaly_by_type",
    """
    SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 4) AS total_value
    FROM events
    WHERE value > 450
    GROUP BY event_type
    """,
    doc="Anomaly subset per-group count+sum [B7/D13] "
    "(streamlit_app.py:751,769-771): high-value outlier slice",
)
def _anomaly_by_type(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "events")
        .filter(F.col("value") > 450)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


@_register(
    "anomaly_rate",
    f"""
    SELECT COUNT(*) AS n_total,
           COUNT(*) FILTER (WHERE value > 450) AS n_anomalies,
           {ratio_round_sql("100 * COUNT(*) FILTER (WHERE value > 450)",
                            "COUNT(*)", 4)}
             AS anomaly_pct
    FROM events
    """,
    doc="Boolean count-if + derived rate [D9/B9] "
    "(streamlit_app.py:347,352,759): anomaly count and percentage. "
    "100·a/n is a grid quotient — rounded in exact integer space "
    "(numeric.ratio_round) on both engines.",
)
def _anomaly_rate(spark: SparkSession, sf: str) -> DataFrame:
    anomaly = (F.col("value") > 450).cast("long")
    return _t(spark, sf, "events").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(anomaly).alias("n_anomalies"),
        ratio_round(F.sum(anomaly) * 100, F.count(F.lit(1)), 4).alias("anomaly_pct"),
    )


@_register(
    "acctbal_buckets",
    f"""
    SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS balance_bucket,
           COUNT(*) AS cnt,
           {_savg('c_acctbal')} AS avg_balance
    FROM customer
    GROUP BY 1
    """,
    doc="Range bucketing on a second column family [B3/B4] "
    "(bigquery_views.sql:5-12 pattern on c_acctbal, incl. BETWEEN range)",
)
def _acctbal_buckets(spark: SparkSession, sf: str) -> DataFrame:
    bucket = bucketize(F.col("c_acctbal"), [0.0, 5000.0], ["negative", "low", "high"])
    return (
        _t(spark, sf, "customer")
        .groupBy(bucket.alias("balance_bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            stable_avg("c_acctbal").alias("avg_balance"),
        )
    )


@_register(
    "in_list_filter",
    """
    SELECT event_type, COUNT(*) AS cnt
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY event_type
    """,
    doc="IN-list membership filter [B8]: the UI multiselect "
    "(streamlit_app.py:997-1001)",
)
def _in_list_filter(spark: SparkSession, sf: str) -> DataFrame:
    return (
        _t(spark, sf, "events")
        .filter(F.col("event_type").isin("click", "view"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_register(
    "distinct_event_types",
    "SELECT DISTINCT event_type FROM events",
    doc="Distinct values for filter options [D18] (streamlit_app.py:984,990)",
)
def _distinct_event_types(spark: SparkSession, sf: str) -> DataFrame:
    return _t(spark, sf, "events").select("event_type").distinct()


@_register(
    "segment_revenue",
    f"""
    SELECT c.c_mktsegment,
           ROUND(SUM(o.o_totalprice), 4) AS total_revenue,
           {_savg('o.o_totalprice')} AS avg_revenue,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Revenue by customer segment [D14] (streamlit_app.py:831-836)",
)
def _segment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 4).alias("total_revenue"),
            stable_avg("o_totalprice").alias("avg_revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_register(
    "top3_priorities_per_segment",
    f"""
    SELECT c_mktsegment, o_orderpriority, cnt, rnk
    FROM (
      SELECT c.c_mktsegment, o.o_orderpriority, COUNT(*) AS cnt,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY c.c_mktsegment
               ORDER BY COUNT(*) DESC, o.o_orderpriority ASC) AS INTEGER) AS rnk
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_mktsegment, o.o_orderpriority
    )
    WHERE rnk <= {TOP_K_PER_GROUP}
    """,
    doc="Standalone top-k per group [E2/E3]: QUALIFY ROW_NUMBER <= 3 "
    "emulation with rank exposed (bigquery_views.sql:84-92)",
)
def _top3_priorities_per_segment(spark: SparkSession, sf: str) -> DataFrame:
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    counts = (
        orders.join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return top_k_per_group(
        counts,
        group_cols=["c_mktsegment"],
        order_by=[F.desc("cnt"), F.asc("o_orderpriority")],
    ).select("c_mktsegment", "o_orderpriority", "cnt", "rnk")


# --------------------------------------------------------------------------
# Extension layer: dedup / similarity / text analysis (SURVEY.md §7 Phase 4)
# --------------------------------------------------------------------------

from .operators import dedup as _dedup  # noqa: E402
from .operators import similarity as _sim  # noqa: E402
from .operators import text as _text  # noqa: E402
from .operators.dedup import ASCII_LOWER_SQL as _ASCII_LOWER_SQL  # noqa: E402
from .operators.dedup import NORM_SQL as _DEDUP_NORM_SQL  # noqa: E402
from .operators import dedup as _dedup_ops  # noqa: E402

# SQL twin of the engine's text normalization, sourced from the SAME
# constant the Spark-side _norm lives next to, so they cannot drift.
_NORM_SQL = _DEDUP_NORM_SQL.format(col="text")

_register(
    "dedup_exact",
    f"""
    SELECT MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    GROUP BY t
    """,
    doc="Exact dedup: hash-groupBy on normalized text, keep min doc_id",
)(lambda spark, sf: _dedup.exact_dedup(_t(spark, sf, "documents")))


_register(
    "dedup_prefix_fingerprint",
    f"""
    SELECT md5(substr(t, 1, 40)) AS fingerprint,
           MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_copies
    FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    GROUP BY 1
    HAVING COUNT(*) > 1
    """,
    doc="Fingerprint dedup: md5(normalized 40-char prefix) duplicate groups",
)(lambda spark, sf: _dedup.prefix_fingerprint_dups(_t(spark, sf, "documents")))


#: Full DuckDB query for exact word-3-gram Jaccard pairs at τ=0.6 —
#: shared by `dedup_ngram_jaccard` and (as a subquery) the
#: connected-components oracle.
_NGRAM_PAIRS_SQL = f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
            WHERE len(w) >= 3)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           {ratio_round_sql("n_inter", "sa.n_sh + sb.n_sh - n_inter", 4)}
             AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
    """

_register(
    "dedup_ngram_jaccard",
    _NGRAM_PAIRS_SQL,
    doc="Exact word-3-gram Jaccard near-dup pairs (threshold 0.6) via "
    "prefix-filtered shingle join; the oracle-checked baseline for LSH",
)(lambda spark, sf: _dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"), 3, 0.6))


_register(
    "dedup_connected_components",
    f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({_NGRAM_PAIRS_SQL})
    ),
    {_cc_ctes("pairs")}
    SELECT doc_id, cluster_id FROM labels
    """,
    doc="Duplicate-cluster assignment [ext/dedup, iterative]: connected "
    "components over the exact near-dup pair graph — each doc labeled "
    "with its component's min doc_id. Spark side is iterative min-label "
    "propagation (O(diameter) rounds of small self-joins, scalar-only "
    "convergence probe); the oracle replays it with a recursive CTE "
    "(transitive closure + MIN). Pairs alone over-delete: {A,B},{B,C} "
    "must collapse to one cluster, which is exactly what this computes.",
)(
    lambda spark, sf: _dedup.duplicate_clusters(
        _dedup.ngram_jaccard_pairs(_t(spark, sf, "documents"), 3, 0.6)
    )
)


# -- Portable MinHash/SimHash oracles -------------------------------------
# The md5-seeded hash families (operators/dedup.py minhash_constants /
# md5_hash_pieces) are bit-identical in DuckDB, so BOTH probabilistic dedup
# pipelines are fully SQL-reproducible — the driver checks candidate
# generation itself, not just row counts. The SQL below is GENERATED from
# the same Python constants the Spark builders use, so they cannot drift.

# Geometry comes from the SAME constants the Spark builders default to
# (dedup.MINHASH_*): n-gram width, signature width, band layout — so a
# changed builder default re-generates the oracle in lockstep.
_MH_CONSTS = _dedup_ops.minhash_constants(_dedup_ops.MINHASH_NUM_HASHES)
_MH_P = _dedup_ops.MINHASH_P
_MH_N = _dedup_ops.MINHASH_NGRAM
_MH_RPB = _dedup_ops.MINHASH_ROWS_PER_BAND
_MH_SIG_AGGS = ",\n             ".join(
    f"MIN(({a} * x1 + {b} * x2 + {c}) % {_MH_P}) AS h{i}"
    for i, (a, b, c) in enumerate(_MH_CONSTS)
)
_MH_BANDS = ",\n            ".join(
    "{'band_id': %d, 'band_hash': md5(%s)}"
    % (
        bnd,
        " || ',' || ".join(
            f"h{bnd * _MH_RPB + r}::VARCHAR" for r in range(_MH_RPB)
        ),
    )
    for bnd in range(_dedup_ops.MINHASH_BANDS)
)


def _gram_sql(n: int, src: str = "norm") -> str:
    """DuckDB n-gram generator over ``(doc_id, t)`` rows of ``src`` —
    WITH duplicates (twin of ``dedup._grams``); wrap in DISTINCT for the
    shingle-set twin. Parameterized so every oracle that shingles derives
    its width from the same constant as its Spark builder."""
    concat = " || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(n))
    return f"""
      SELECT doc_id, {concat} AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {n - 1})) AS i
            FROM (SELECT doc_id, string_split(t, ' ') AS w FROM {src})
            WHERE len(w) >= {n})
    """

#: Shared DuckDB replay of the MinHash-LSH pipeline through exact
#: verification — reused by `dedup_minhash_lsh` and the quality audit
#: `dedup_lsh_quality`.
_MH_PIPELINE_CTES = f"""
    norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    grams AS ({_gram_sql(_MH_N)}),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 7))::BIGINT AS x1,
             ('0x' || substr(md5(sh), 8, 7))::BIGINT AS x2
      FROM grams
    ),
    sig AS (
      SELECT doc_id,
             {_MH_SIG_AGGS}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, u.band_id AS band_id, u.band_hash AS band_hash
      FROM (SELECT doc_id, unnest([
            {_MH_BANDS}
        ]) AS u FROM sig)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id
    ),
    shd AS (SELECT DISTINCT doc_id, sh FROM grams),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shd a ON a.doc_id = c.doc_a
      JOIN shd b ON b.doc_id = c.doc_b AND a.sh = b.sh
      GROUP BY 1, 2
    ),
    verified AS (
      SELECT doc_a, doc_b,
             {ratio_round_sql("n_inter", "sa.n_sh + sb.n_sh - n_inter", 4)}
               AS jaccard
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
    )
"""

_register(
    "dedup_minhash_lsh",
    f"""
    WITH {_MH_PIPELINE_CTES}
    SELECT doc_a, doc_b, jaccard FROM verified
    """,
    doc="MinHash(32)+LSH(8 bands) candidate pairs, exact-verified — the "
    "near-linear 100 TB dedup path. Portable md5-seeded hash family, so "
    "the oracle replays candidate generation exactly (was rows-only when "
    "signatures used xxhash64)",
)(lambda spark, sf: _dedup.minhash_lsh_pairs(_t(spark, sf, "documents")))


def _simhash_sql() -> str:
    """DuckDB twin of ``dedup.simhash_pairs`` — generated with the same
    chunk layout as ``dedup.hamming_band_chunks``."""
    nbits, max_hamming = _dedup.SIMHASH_BITS, _dedup.SIMHASH_MAX_HAMMING
    bit_sums = ",\n             ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(nbits)
    )
    sig_terms = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN 1::BIGINT ELSE 0::BIGINT END << {i})"
        for i in range(nbits)
    )
    n_chunks = max_hamming + 1
    base, extra = divmod(nbits, n_chunks)
    chunk_entries, offset = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        mask = (1 << width) - 1
        chunk_entries.append(
            "{'ci': %d, 'cv': (simhash >> %d) & %d}" % (c, offset, mask)
        )
        offset += width
    chunks_sql = ",\n            ".join(chunk_entries)
    return f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    words AS (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm)
      WHERE length(w) > 0
    ),
    per_bit AS (
      SELECT doc_id,
             {bit_sums}
      FROM words GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {sig_terms} AS simhash FROM per_bit),
    chunks AS (
      SELECT doc_id, simhash, u.ci AS ci, u.cv AS cv
      FROM (SELECT doc_id, simhash, unnest([
            {chunks_sql}
        ]) AS u FROM sigs)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM chunks a JOIN chunks b
      ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """


_register(
    "dedup_simhash",
    _simhash_sql(),
    doc="SimHash near-dup pairs (hamming ≤ 6), constant-size signature; "
    "portable 60-bit md5-derived word hash, so signatures + lossless "
    "Manku banding + Hamming verification are all oracle-replayed "
    "(was rows-only when the word hash was xxhash64)",
)(
    lambda spark, sf: _dedup.simhash_pairs(_t(spark, sf, "documents")).withColumn(
        "hamming", F.col("hamming").cast("long")
    )
)


def _dedup_method_agreement(spark: SparkSession, sf: str) -> DataFrame:
    """Candidate-method agreement audit [ext/dedup/eval]: recall and
    precision of the two sub-quadratic near-dup pipelines (MinHash-LSH
    exact-verified, SimHash hamming<=6) against the exact word-3-gram
    Jaccard tau=0.6 truth — the method-selection table a curation run
    reads before picking its dedup pass.

    MinHash rows are verified at the SAME tau, so precision is 1 by
    construction and recall isolates LSH banding loss; SimHash uses a
    different criterion (signature Hamming), so both sides are
    informative. Audit-class op (the dedup_lsh_quality /
    winnowing_recall_audit family): it runs the exact truth, the
    MinHash CANDIDATE generator (verification folded into a semi-join
    against the truth — verified ≡ candidates ∩ exact, r9), and the
    full SimHash pipeline — each individually plan-audited — and the
    comparison joins are pair-table-sized.
    """
    docs = _t(spark, sf, "documents")
    # ONE checkpointed gram pass feeds both word-3-gram consumers
    # (exact shingles, MinHash signatures; MinHash VERIFICATION was a
    # third consumer until the semi-join below removed it) — the
    # r8 verdict's shared-tokenize suggestion: each used to replay the
    # corpus normalize+explode chain independently. Deliberately NOT
    # repartitioned before the checkpoint: measured 16–19 s vs 10.5 s
    # (r9 A/B) — the downstream chains are cheap enough that extra
    # exchange/stage overhead swamps the parallelism gain at bench
    # scale, and at 100 TB the gram table is many-split already.
    grams = _dedup._grams(docs, 3, "word").localCheckpoint(eager=False)
    exact = (
        _dedup.ngram_jaccard_pairs(docs, 3, 0.6, grams=grams)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # consumers: tagged join + count
    )
    # MinHash VERIFIED pairs ≡ candidates ∩ exact truth, by construction:
    # verification applies the same J ≥ τ criterion over the same
    # word-3-gram shingle sets that define the exact pair table, and the
    # prefix-filtered exact join is lossless — so {cand : J(cand) ≥ τ}
    # IS cand ∩ exact. The semi-join replaces the whole candidate-pruned
    # re-verification chain (shingle rebuild + array_intersect) with one
    # join against the already-checkpointed truth (r9 perf audit; the
    # oracle replays full verification and reads identical values).
    mh = _dedup.minhash_candidates(docs, grams=grams).join(
        exact, ["doc_a", "doc_b"], "leftsemi"
    )
    methods = [
        ("exact_jaccard", exact),
        ("minhash_lsh", mh),
        ("simhash", _dedup.simhash_pairs(docs).select("doc_a", "doc_b")),
    ]
    n_exact_row = exact.agg(F.count(F.lit(1)).alias("n_exact"))
    # Per-method join+agg chains, NOT a union of tagged pair tables
    # into one join: measured 1.5–10 s SLOWER as a single fused DAG
    # (r9 A/B — separate jobs schedule the three audited pipelines
    # independently and keep the zero-pair row contract for free).
    stats = None
    marked = exact.withColumn("ex", F.lit(1))
    for name, pairs in methods:
        s = (
            pairs.join(marked, ["doc_a", "doc_b"], "left")
            .agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.sum(F.coalesce(F.col("ex"), F.lit(0))).alias("n_overlap"),
            )
            .select(
                F.lit(name).alias("method"),
                F.col("n_pairs").cast("long").alias("n_pairs"),
                F.col("n_overlap").cast("long").alias("n_overlap"),
            )
        )
        stats = s if stats is None else stats.unionByName(s)
    return (
        stats.crossJoin(F.broadcast(n_exact_row))
        .select(
            "method",
            "n_pairs",
            "n_overlap",
            F.when(
                F.col("n_exact") > 0,
                ratio_round(F.col("n_overlap"), F.col("n_exact"), 4),
            ).alias("recall_vs_exact"),
            F.when(
                F.col("n_pairs") > 0,
                ratio_round(F.col("n_overlap"), F.col("n_pairs"), 4),
            ).alias("precision_vs_exact"),
        )
        .orderBy("method")
    )


# Registered AFTER the three method entries exist so the oracle can
# inline their audited SQL verbatim (the classifier_ece/FDR composition
# pattern — one audited copy per pipeline).
_register(
    "dedup_method_agreement",
    f"""
    WITH ex AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_NGRAM_PAIRS_SQL})
    ),
    mh AS MATERIALIZED (
      SELECT doc_a, doc_b FROM (WITH {_MH_PIPELINE_CTES}
                                SELECT doc_a, doc_b FROM verified)
    ),
    sh AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_simhash_sql()})
    ),
    exn AS (SELECT COUNT(*) AS n_exact FROM ex),
    stats AS (
      SELECT 'exact_jaccard' AS method,
             (SELECT COUNT(*) FROM ex) AS n_pairs,
             (SELECT COUNT(*) FROM ex) AS n_overlap
      UNION ALL
      SELECT 'minhash_lsh',
             (SELECT COUNT(*) FROM mh),
             (SELECT COUNT(*) FROM mh JOIN ex USING (doc_a, doc_b))
      UNION ALL
      SELECT 'simhash',
             (SELECT COUNT(*) FROM sh),
             (SELECT COUNT(*) FROM sh JOIN ex USING (doc_a, doc_b))
    )
    SELECT method, CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           CASE WHEN n_exact > 0
                THEN {ratio_round_sql("n_overlap", "n_exact", 4)} END
             AS recall_vs_exact,
           CASE WHEN n_pairs > 0
                THEN {ratio_round_sql("n_overlap", "n_pairs", 4)} END
             AS precision_vs_exact
    FROM stats CROSS JOIN exn
    ORDER BY method
    """,
    doc="Dedup method-agreement audit [ext/dedup/eval]: recall + "
    "precision of MinHash-LSH (exact-verified) and SimHash (hamming<=6) "
    "candidate pairs against the exact 3-gram Jaccard tau=0.6 truth - "
    "the method-selection table for a curation run. Oracle inlines the "
    "three audited pipeline replays verbatim (the ECE/FDR composition "
    "pattern); ratios are exact integer quotients with zero-denominator "
    "guards on both engines.",
)(_dedup_method_agreement)


_COS_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)
#: Top-5 tail of the cosine top-k oracles over a
#: ``scored(query_id, neighbor_id, cos)`` CTE.
_TOP5_COS_SQL = """SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 5"""
#: Body of the ``assigned`` CTE: each ``e`` vector's nearest ``cent``
#: centroid by cosine, centroid_id tie-break (``similarity.ivf_assign``).
_IVF_ASSIGN_SQL = f"""SELECT vec_id, emb, centroid_id
      FROM (SELECT e.vec_id, e.emb, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {_COS_SQL.format(a="e.emb", b="c.c_emb")} DESC,
                              c.centroid_id) AS rn
            FROM e, cent c)
      WHERE rn = 1"""

_register(
    "similarity_topk_bruteforce",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.q_emb", b="e.emb")} AS cos
      FROM e, q WHERE e.vec_id <> q.query_id
    )
    {_TOP5_COS_SQL}
    """,
    doc="Brute-force cosine top-5 for 10 query vectors: broadcast query "
    "side × one corpus pass; the exact ANN baseline",
)(
    lambda spark, sf: _sim.brute_force_topk(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10, k=5
    )
)


_register(
    "similarity_hard_negatives",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS query_label, emb AS q_emb
          FROM e WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, q.query_label,
             e.vec_id AS neighbor_id, e.label AS neighbor_label,
             {_COS_SQL.format(a="q.q_emb", b="e.emb")} AS cos
      FROM e, q WHERE e.label <> q.query_label
    )
    SELECT query_id, query_label, neighbor_id, neighbor_label,
           ROUND(cos, 4) AS cosine, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
    doc="Cross-label hard-negative mining [ext/similarity, DPR/Contriever "
    "lineage]: top-5 most-similar DIFFERENT-label vectors per query — "
    "the negative-selection step for contrastive training data. "
    "Broadcast query side x one corpus pass; the label inequality rides "
    "the pair filter in the same codegen stage.",
)(
    lambda spark, sf: _sim.hard_negatives(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10
    )
)


_register(
    "similarity_topk_ivf",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e
             WHERE vec_id % {_sim.IVF_CENTROID_MODULUS} = 0),
    assigned AS (
      {_IVF_ASSIGN_SQL}
    ),
    q AS (SELECT vec_id AS query_id, emb AS q_emb, centroid_id AS q_centroid
          FROM assigned WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, a.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.q_emb", b="a.emb")} AS cos
      FROM assigned a JOIN q ON a.centroid_id = q.q_centroid
      WHERE a.vec_id <> q.query_id
    )
    {_TOP5_COS_SQL}
    """,
    doc="IVF approximate top-5 (nprobe=1, deterministic centroids): "
    "per-query work scales with cluster size, not corpus size — the "
    "oracle checks the approximation itself",
)(
    lambda spark, sf: _sim.ivf_topk(_t(spark, sf, "embeddings"), F.col("vec_id") < 10)
)


_register(
    "embedding_near_dup_exact_baseline",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_COS_SQL.format(a="a.emb", b="b.emb")}, 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_COS_SQL.format(a="a.emb", b="b.emb")} >= {_sim.COSINE_NEAR_DUP_THRESHOLD}
    """,
    doc="Embedding-cosine near-dup pairs, EXACT QUADRATIC BASELINE "
    "(threshold 0.4, calibrated to the fixture's cosine distribution — "
    "max pairwise ≈ 0.51). O(n²) crossJoin by design: it exists to "
    "oracle-check cosine arithmetic and to bound the LSH path's recall; "
    "the production near-dup operator is `embedding_near_dup` (SRP-LSH "
    "banded candidates, near-linear). Do not run this form at scale.",
)(
    lambda spark, sf: _sim.cosine_near_dup_pairs(_t(spark, sf, "embeddings"))
)


def _occ_sql(t: str, m: str) -> str:
    return f"CAST((length({t}) - length(replace({t}, '{m}', ''))) / {len(m)} AS BIGINT)"


def _lang_score_sql(t: str, lang: str) -> str:
    return " + ".join(_occ_sql(t, m) for m in _text.LANG_MARKERS[lang])


_LANG_SCORES = {lang: _lang_score_sql("p", lang) for lang in _text.LANG_MARKERS}
_LANG_CASE = "CASE " + " ".join(
    f"WHEN score_{lang} > 0 AND "
    + " AND ".join(
        f"score_{lang} >= score_{o}" for o in _text.LANG_MARKERS if o != lang
    )
    + f" THEN '{lang}'"
    for lang in _text.LANG_MARKERS
) + " ELSE 'unknown' END"

_LANG_S_CTE = f"""s AS (
      SELECT lang,
             {", ".join(f"{_LANG_SCORES[lang]} AS score_{lang}" for lang in _text.LANG_MARKERS)}
      FROM (SELECT lang, ' ' || {_NORM_SQL} || ' ' AS p FROM documents)
    )"""

# -- Grid-quotient-safe shared fragments (r6 rule; operators/numeric.py) ---
# Quality score as ONE exact integer ratio over columns n_words, letters,
# stops (common denominator 1000·n_words):
#   score = min(w,100)/200 + 0.3·[3w ≤ letters ≤ 9w] + min(10·stops, w)/(5w)
_QS_SCORE_SQL = ratio_round_sql(
    "5 * n_words * LEAST(n_words, 100)"
    " + (CASE WHEN letters >= 3 * n_words AND letters <= 9 * n_words"
    " THEN 300 ELSE 0 END) * n_words"
    " + 200 * LEAST(10 * stops, n_words)",
    "1000 * n_words",
    4,
)


def _dup_frac_sql(alias: str) -> str:
    """Duplicate-n-gram fraction for a LEFT-joined ``{alias}(total, dist)``
    pair — (total-dist)/total as an exact integer ratio, 0.0 (via 0/1)
    when the doc has no n-grams."""
    return ratio_round_sql(
        f"COALESCE({alias}.total - {alias}.dist, 0)",
        f"COALESCE({alias}.total, 1)",
        4,
    )


_register(
    "text_lang_id",
    f"""
    WITH s AS (
      SELECT doc_id,
             {", ".join(f"{_LANG_SCORES[lang]} AS score_{lang}" for lang in _text.LANG_MARKERS)}
      FROM (SELECT doc_id, ' ' || {_NORM_SQL} || ' ' AS p FROM documents)
    )
    SELECT doc_id, score_en, score_fr, score_de, score_es,
           {_LANG_CASE} AS pred_lang
    FROM s
    """,
    doc="Heuristic language ID: marker-stopword argmax with fixed-priority "
    "tie-break — even the heuristic is oracle-checked",
)(lambda spark, sf: _text.lang_id(_t(spark, sf, "documents")))


_register(
    "text_token_counts",
    f"""
    SELECT doc_id,
           len(string_split(t, ' ')) AS ws_tokens,
           len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS bpe_tokens,
           length(t) AS n_chars_norm
    FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    """,
    doc="Token counting: whitespace + BPE-ish regex pre-tokenizer counts",
)(lambda spark, sf: _text.token_counts(_t(spark, sf, "documents")))


_register(
    "text_quality_scores",
    f"""
    WITH base AS (
      SELECT doc_id, t, ' ' || t || ' ' AS p,
             length(t) AS n_chars_norm,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS letters
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    ), m AS (
      SELECT doc_id, n_chars_norm, n_words, letters,
             CAST({_lang_score_sql("p", "en")} AS BIGINT) AS stops
      FROM base
    )
    SELECT doc_id, n_chars_norm, n_words,
           {ratio_round_sql("letters", "n_words", 4)} AS avg_word_len,
           {ratio_round_sql("stops", "n_words", 4)} AS stopword_ratio,
           {_QS_SCORE_SQL} AS quality_score
    FROM m
    """,
    doc="Quality scoring: length/word-stats/stopword-ratio formula. All "
    "outputs are exact integer ratios rounded in integer space "
    "(numeric.ratio_round; the bracket test is letters ∈ [3w, 9w]).",
)(lambda spark, sf: _text.quality_scores(_t(spark, sf, "documents")))


_register(
    "text_structure_signals",
    f"""
    SELECT doc_id,
           length(text) AS n_chars_raw,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_letters,
           length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper,
           length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits,
           length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g')) AS n_symbols,
           {ratio_round_sql(
               "length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))",
               "len(string_split(" + _NORM_SQL + ", ' '))", 4)}
             AS symbol_word_ratio,
           {ratio_round_sql(
               "length(regexp_replace(text, '[^0-9]', '', 'g'))",
               "GREATEST(length(text), 1)", 4)} AS digit_frac,
           {ratio_round_sql(
               "length(regexp_replace(text, '[^A-Z]', '', 'g'))",
               "GREATEST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')), 1)",
               4)} AS upper_frac
    FROM documents
    """,
    doc="Structural/character-class signals over the RAW text [ext/text, "
    "Gopher symbol-rule family]: letter/upper/digit/symbol counts plus "
    "symbol-to-word, digit-char, upper-letter exact integer ratios "
    "(numeric.ratio_round). Explicit ASCII classes keep java.util.regex "
    "and RE2 identical; one projection, zero shuffles — scan-speed at "
    "100 TB.",
)(lambda spark, sf: _text.structure_signals(_t(spark, sf, "documents")))


_register(
    "source_quality_profile",
    f"""
    WITH base AS (
      SELECT source, md5(t) AS fp,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS letters,
             CAST({_lang_score_sql("(' ' || t || ' ')", "en")} AS BIGINT)
               AS stops
      FROM (SELECT source, {_NORM_SQL} AS t FROM documents)
    ), per_doc AS (
      SELECT source, fp, n_words AS w,
             CAST(ROUND({_QS_SCORE_SQL} * 10000) AS BIGINT) AS qu
      FROM base
    ), agg AS (
      SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_unique,
             CAST(SUM(w) AS BIGINT) AS total_tokens,
             CAST(SUM(qu) AS BIGINT) AS q_units
      FROM per_doc GROUP BY 1
    )
    SELECT source, n_docs, n_unique,
           {ratio_round_sql("n_docs - n_unique", "n_docs", 4)} AS dup_frac,
           {ratio_round_sql("total_tokens", "n_docs", 4)} AS avg_tokens,
           {ratio_round_sql("q_units", "n_docs * 10000", 4)} AS avg_quality
    FROM agg
    """,
    doc="Per-source corpus profile [ext/text+dedup, RefinedWeb/C4 domain "
    "curation]: doc count, distinct-content count, exact-dup fraction, "
    "mean token count, mean quality per source. Fingerprint + tokens + "
    "quality integers ride ONE projection; a single groupBy(source) "
    "(distinct-fp = standard two-level distinct agg) emits a "
    "|sources|-sized dimension table at any corpus scale; every ratio "
    "exact-integer rounded.",
)(lambda spark, sf: _text.source_quality_profile(_t(spark, sf, "documents")))


_register(
    "text_fingerprints",
    f"""
    SELECT doc_id, md5(t) AS fingerprint, length(t) AS n_chars_norm
    FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    """,
    doc="Document fingerprinting: md5 of normalized text (portable digest)",
)(lambda spark, sf: _text.fingerprints(_t(spark, sf, "documents")))


_register(
    "text_repetition_signals",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    words AS (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm),
    wc AS (
      SELECT doc_id, w, COUNT(*) AS c FROM words
      WHERE length(w) > 0 GROUP BY 1, 2
    ),
    wstats AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words, COUNT(*) AS n_distinct,
             MAX(c) AS top_c
      FROM wc GROUP BY 1
    ),
    g2c AS (
      SELECT doc_id, sh, COUNT(*) AS c
      FROM (SELECT doc_id, w[i] || ' ' || w[i+1] AS sh
            FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
                  WHERE len(w) >= 2))
      GROUP BY 1, 2
    ),
    g2s AS (SELECT doc_id, SUM(c) AS total, COUNT(*) AS dist FROM g2c GROUP BY 1),
    g3c AS (
      SELECT doc_id, sh, COUNT(*) AS c
      FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
            FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
                  FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
                  WHERE len(w) >= 3))
      GROUP BY 1, 2
    ),
    g3s AS (SELECT doc_id, SUM(c) AS total, COUNT(*) AS dist FROM g3c GROUP BY 1)
    SELECT w.doc_id, w.n_words,
           {ratio_round_sql("w.n_words - w.n_distinct", "w.n_words", 4)}
             AS dup_word_frac,
           {ratio_round_sql("w.top_c", "w.n_words", 4)} AS top_word_frac,
           {_dup_frac_sql("g2s")} AS dup_2gram_frac,
           {_dup_frac_sql("g3s")} AS dup_3gram_frac
    FROM wstats w
    LEFT JOIN g2s ON g2s.doc_id = w.doc_id
    LEFT JOIN g3s ON g3s.doc_id = w.doc_id
    """,
    doc="Repetition quality signals [ext/text, Gopher/MassiveText rule "
    "family]: duplicate-word fraction, top-word fraction, duplicate "
    "2-gram/3-gram fractions per document — the repetition filters a "
    "training-data pipeline applies before dedup. Exact integer ratios, "
    "oracle-checked.",
)(lambda spark, sf: _text.repetition_signals(_t(spark, sf, "documents")))


from .operators import relational as _rel  # noqa: E402
from .operators import sampling as _sampling  # noqa: E402

_register(
    "dataset_hash_split",
    f"""
    SELECT doc_id, bucket,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT
                   % {_sampling.N_BUCKETS} AS bucket
          FROM documents)
    """,
    doc="Deterministic train/val/test split [ext/sampling]: hashed-id "
    "bucket (md5, engine-portable) → 90/5/5 assignment. Pure per-row "
    "projection (no shuffle, no RNG state): re-running after corpus "
    "growth never moves an old row between splits — the stability "
    "property that prevents train/test leakage across dataset versions.",
)(
    lambda spark, sf: _sampling.hash_split(
        _t(spark, sf, "documents").select("doc_id"), "doc_id"
    )
)


_register(
    "regional_revenue",
    """
    SELECT r.r_name, n.n_name, COUNT(*) AS orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1, 2
    """,
    doc="Multi-dimension join chain [C-extra: the reference has only "
    "view-internal self-joins; real marts need dim chains]: fact → "
    "customer → nation → region, all three dims explicitly broadcast so "
    "the fact table never shuffles for the join — ONE shuffle total (the "
    "final group-by). The TPC-H Q5 shape. SUM is exact: prices sit on a "
    "2-decimal grid and the total fits a double's 53-bit mantissa.",
)(
    lambda spark, sf: _t(spark, sf, "orders")
    .join(
        F.broadcast(_t(spark, sf, "customer").select("c_custkey", "c_nationkey")),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    .join(
        F.broadcast(_t(spark, sf, "nation").select("n_nationkey", "n_regionkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    .join(
        F.broadcast(_t(spark, sf, "region").select("r_regionkey", "r_name")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    .groupBy("r_name", "n_name")
    .agg(
        F.count(F.lit(1)).alias("orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
)


_register(
    "customers_without_big_orders",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    GROUP BY 1
    """,
    doc="ANTI join [C-extra: semi/anti absent from the reference]: "
    "customers with no order above 300k, per segment (every fixture "
    "customer has SOME order, so the predicate keeps the check "
    "non-vacuous). Spark left_anti join — hash-partitionable, the "
    "orders side is filtered and reduced to its join key BEFORE the "
    "shuffle (pushed predicate + 8-byte rows). Oracle is NOT EXISTS — "
    "independent derivation. SUM exact on the 2-decimal grid.",
)(
    lambda spark, sf: _t(spark, sf, "customer")
    .join(
        _t(spark, sf, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    .groupBy("c_mktsegment")
    .agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
    )
)


def _corpus_curation(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    # quality_keep = quality_scores(...).filter(score >= 0.45) as ONE
    # integer predicate (pytest-pinned identity) — filtering the rounded
    # column inlines the whole expression tree into the scan predicate
    # 3-6x over (numeric.ratio_round_ge docstring)
    q_ok = _text.quality_keep(docs, 0.45)
    rep_ok = (
        _text.repetition_signals(docs)
        .filter(F.col("dup_3gram_frac") <= 0.2)
        .select("doc_id")
    )
    kept = docs.join(q_ok, "doc_id", "leftsemi").join(rep_ok, "doc_id", "leftsemi")
    dedup_keep = (
        kept.select("doc_id", F.md5(_dedup._norm(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        _sampling.hash_split(dedup_keep.select("doc_id"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_register(
    "corpus_curation_pipeline",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    base AS (
      SELECT doc_id, t,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS letters,
             CAST({_lang_score_sql("(' ' || t || ' ')", "en")} AS BIGINT) AS stops
      FROM norm
    ),
    q_ok AS (
      -- the exact-integer rounded score (numeric.ratio_round) to match
      -- the Spark side, which filters the ROUNDED quality_scores output
      -- column (boundary docs at 0.44996 must fall the same way in both
      -- engines)
      SELECT doc_id FROM (
        SELECT doc_id, {_QS_SCORE_SQL} AS score
        FROM base)
      WHERE score >= 0.45
    ),
    g3s AS (
      SELECT doc_id, SUM(c) AS total, COUNT(*) AS dist FROM (
        SELECT doc_id, sh, COUNT(*) AS c
        FROM (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
              FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
                    FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
                    WHERE len(w) >= 3))
        GROUP BY 1, 2)
      GROUP BY 1
    ),
    rep_ok AS (
      SELECT w.doc_id
      FROM (SELECT DISTINCT doc_id FROM
              (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm)
            WHERE length(w) > 0) w
      LEFT JOIN g3s ON g3s.doc_id = w.doc_id
      -- exact-integer rounding to match the Spark filter on the rounded
      -- signal column
      WHERE {_dup_frac_sql("g3s")} <= 0.2
    ),
    dedup AS (
      SELECT MIN(n.doc_id) AS doc_id
      FROM norm n
      JOIN q_ok ON q_ok.doc_id = n.doc_id
      JOIN rep_ok ON rep_ok.doc_id = n.doc_id
      GROUP BY md5(n.t)
    )
    SELECT CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM (SELECT ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT
                   % {_sampling.N_BUCKETS} AS bucket
          FROM dedup)
    GROUP BY 1
    """,
    doc="The curation funnel END TO END [ext/pipeline showcase]: quality "
    "filter (score >= 0.45) ∩ repetition filter (dup-3-gram <= 0.2) via "
    "two LEFT SEMI joins -> exact dedup keep-min-id -> deterministic "
    "train/val/test split -> per-split counts. One declarative plan — "
    "Catalyst pipelines the filters into the scans and the only shuffles "
    "are the content-keyed aggregations. Every stage reuses an "
    "already-oracle-checked operator; the composition is oracle-checked "
    "here.",
)(_corpus_curation)


def _salted_segment_revenue(spark: SparkSession, sf: str) -> DataFrame:
    orders = _t(spark, sf, "orders").select(
        "o_custkey", "o_totalprice", "o_orderkey"
    )
    cust = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    return (
        _rel.salted_join(orders, cust, on="o_custkey", salt_from="o_orderkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


_register(
    "salted_segment_revenue",
    """
    SELECT c.c_mktsegment, COUNT(*) AS orders,
           ROUND(SUM(o.o_totalprice), 2) AS revenue
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1
    """,
    doc="Skew-salted shuffle join [scale technique, oracle-checked for "
    "result-identity]: the big side salts its key into 8 sub-keys "
    "(xxhash64 of the row id, deterministic), the small side replicates "
    "once per salt, and the shuffle-hash join spreads any hot customer "
    "across 8 tasks. For when AQE's skew split can't help: forced "
    "shuffle-hash builds, streaming joins (no AQE), skewed downstream "
    "groupBys. The oracle is the PLAIN join — salting must not change a "
    "single row.",
)(_salted_segment_revenue)


_register(
    "user_event_sequences",
    """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           CAST(ROW_NUMBER() OVER w AS INTEGER) AS seq,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
           LAG(event_type) OVER w AS prev_type,
           LEAD(event_type) OVER w AS next_type,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS rolling_avg_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="Per-user event-sequence features [E-extra: lag/lead + ROWS frame "
    "windows, absent from the reference]: timeline position, gap to the "
    "previous event (exact integer microseconds), neighbor event types, "
    "rolling 3-row mean. One shuffle serves all five window expressions "
    "(shared partitioning+ordering -> single WindowExec).",
)(
    lambda spark, sf: _rel.sequence_features(
        _t(spark, sf, "events"),
        key="user_id",
        ts_col="ts",
        value_col="value",
        type_col="event_type",
        id_col="event_id",
    ).withColumn("seq", F.col("seq").cast("int"))
)


def _purchases_within_hour(spark: SparkSession, sf: str) -> DataFrame:
    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    matched = _rel.bucketed_interval_join(
        clicks, purchases, "user_id", "ts", "ts", 3600, right_vals=["value"]
    )
    agg = matched.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_purchases_1h"),
        F.round(F.max("value"), 4).alias("max_purchase_value"),
    )
    return clicks.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.coalesce("n_purchases_1h", F.lit(0)).alias("n_purchases_1h"),
        "max_purchase_value",
    )


_register(
    "purchases_within_hour",
    """
    SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
           COUNT(p.user_id) AS n_purchases_1h,
           ROUND(MAX(p.value), 4) AS max_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    LEFT JOIN (SELECT user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 1 HOUR
    GROUP BY 1, 2, 3
    """,
    doc="Interval join [ext/temporal]: per click, the user's purchases in "
    "the following hour (count + max value). Spark side is the BANDED "
    "formulation (bucket ts by the window width, explode left to 2 "
    "buckets, equi-join on (user, bucket), then exact interval filter) — "
    "hash-partitionable, never the |L|x|R| nested loop a range-predicate "
    "theta join plans as. Oracle is the naive range join — independent "
    "derivation, same semantics. MAX not SUM for the value (float SUM "
    "order differs across engines).",
)(_purchases_within_hour)


_register(
    "dataset_stratified_sample",
    f"""
    SELECT event_id, event_type
    FROM (SELECT event_id, event_type,
                 ('0x' || substr(md5('sample:' || event_id), 1, 7))::BIGINT
                   % {_sampling.N_BUCKETS} AS bucket
          FROM events)
    WHERE bucket < CASE event_type
                     WHEN 'purchase' THEN 10000
                     WHEN 'click' THEN 1000
                     ELSE {round(_sampling.STRATIFIED_DEFAULT_FRACTION * _sampling.N_BUCKETS)} END
    """,
    doc="Deterministic stratified sampling [ext/sampling]: keep 100% of "
    "purchases, 10% of clicks, 5% of the rest, by hashed event_id — the "
    "class-rebalancing step before training, reproducible row-for-row "
    "across engines (unlike RNG sampleBy) and oracle-checked.",
)(
    lambda spark, sf: _sampling.stratified_sample(
        _t(spark, sf, "events").select("event_id", "event_type"),
        "event_type",
        {"purchase": 1.0, "click": 0.1},
        id_col="event_id",
    )
)


# --------------------------------------------------------------------------
# Multimodal plumbing, latest-N hot path, D15 matrix, SQL-interface entry
# --------------------------------------------------------------------------

from .operators import multimodal as _mm  # noqa: E402

_register(
    "multimodal_metadata",
    """
    SELECT doc_id, 'image/fake' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           sha256(text) AS sha256,
           CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS width,
           CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS height
    FROM documents WHERE text IS NOT NULL
    """,
    doc="Multimodal metadata extraction: binary payload column → Arrow-"
    "batched mapInPandas (sha256 + stub decode dims) — the Pandas-UDF "
    "plumbing itself is oracle-checked",
)(
    lambda spark, sf: _mm.extract_media_metadata(
        _mm.attach_binary_payload(_t(spark, sf, "documents"))
    )
)


_register(
    "latest_orders_scan",
    """
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           epoch_ms(o_orderdate) AS order_ts_ms
    FROM orders
    ORDER BY o_orderdate DESC, o_orderkey DESC
    LIMIT 1000
    """,
    doc="The dashboard's hot path [A1/F1]: latest-10k-style scan with "
    "explicit projection (streamlit_app.py:164-190) — plans as "
    "TakeOrderedAndProject, zero shuffle",
)(
    lambda spark, sf: latest_n(
        _t(spark, sf, "orders"), "o_orderdate", 1000, tiebreak="o_orderkey"
    ).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        # o_orderdate reads as TIMESTAMP_NTZ; session tz is UTC so the cast
        # is a pure relabel, matching DuckDB's naive epoch_ms semantics
        F.unix_millis(F.col("o_orderdate").cast("timestamp")).alias("order_ts_ms"),
    )
)


_register(
    "priority_status_matrix",
    """
    SELECT o_orderpriority, o_orderstatus,
           COUNT(*) AS cnt, ROUND(SUM(o_totalprice), 4) AS total
    FROM orders
    GROUP BY o_orderpriority, o_orderstatus
    """,
    doc="Two-key group count+sum [D15]: the category×satisfaction matrix "
    "shape (streamlit_app.py:873-876)",
)(
    lambda spark, sf: _t(spark, sf, "orders")
    .groupBy("o_orderpriority", "o_orderstatus")
    .agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("o_totalprice"), 4).alias("total"),
    )
)


def _sql_interface_view(spark: SparkSession, sf: str) -> DataFrame:
    """A2/A3: the SQL surface — view DDL + view scan via ``spark.sql``,
    exactly how the reference consumes its views
    (``streamlit_app.py:223-226``); same result as the DataFrame builder."""
    _t(spark, sf, "orders").createOrReplaceTempView("orders_sql_demo")
    spark.sql(
        f"""
        CREATE OR REPLACE TEMP VIEW v_price_bucket_preferences_sql AS
        WITH bucketed AS (
          SELECT {PRICE_BUCKET_SQL} AS price_bucket, o_totalprice, o_orderpriority
          FROM orders_sql_demo
        ), stats AS (
          SELECT price_bucket, COUNT(*) AS orders,
                 {stable_avg_spark_sql('o_totalprice')} AS avg_price
          FROM bucketed GROUP BY price_bucket
        ), counts AS (
          SELECT price_bucket, o_orderpriority, COUNT(*) AS cnt
          FROM bucketed GROUP BY price_bucket, o_orderpriority
        ), top AS (
          SELECT price_bucket, o_orderpriority AS top_priority
          FROM (SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY price_bucket
                  ORDER BY cnt DESC, o_orderpriority ASC) AS rn
                FROM counts)
          WHERE rn = 1
        )
        SELECT s.price_bucket, s.orders, s.avg_price, t.top_priority
        FROM stats s LEFT JOIN top t ON s.price_bucket = t.price_bucket
        """
    )
    return spark.sql("SELECT * FROM v_price_bucket_preferences_sql")


_register(
    "sql_view_interface",
    REGISTRY["v_price_bucket_preferences"].oracle,
    doc="View DDL + scan through spark.sql [A2/A3]: proves the SQL surface "
    "produces the identical result to the DataFrame builder",
)(_sql_interface_view)


def _session_windows_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = _rel.session_window_stats(_t(spark, sf_dir, "events"), gap="10 minutes")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
        "total_value",
    )


_register(
    "session_windows_events",
    """
    WITH d AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                    >= INTERVAL 10 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), s AS (
      SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM d
    )
    SELECT user_id,
           epoch_us(MIN(ts)) AS start_us,
           epoch_us(MAX(ts) + INTERVAL 10 MINUTE) AS end_us,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM s GROUP BY user_id, sid
    """,
    doc="Gap-based session windows per user [H8 extension, batch form of "
    "F.session_window]: sessions merge while consecutive events are < 10 "
    "min apart; end = last event + gap. Oracle is the classic "
    "gaps-and-islands formulation - same semantics, independent derivation",
)(_session_windows_events)


def _asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.relational import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_vals=["purchase_id", "purchase_value"],
        tiebreak="purchase_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "purchase_id",
        "purchase_value",
    )


_register(
    "asof_click_purchase",
    """
    SELECT event_id, user_id, ts_us, purchase_id, purchase_value FROM (
      SELECT c.event_id, c.user_id, epoch_us(c.ts) AS ts_us,
             p.event_id AS purchase_id, p.value AS purchase_value,
             ROW_NUMBER() OVER (PARTITION BY c.event_id
               ORDER BY p.ts DESC, p.event_id DESC) AS rn
      FROM (SELECT * FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        ON p.user_id = c.user_id AND p.ts <= c.ts
    ) WHERE rn = 1
    """,
    doc="As-of join [extension; SURVEY notes the reference has no temporal "
    "joins]: each click gets the user's latest at-or-before purchase via "
    "ONE union+shuffle+sort with a carry-forward window - |L|+|R| cost, "
    "never |L|x|matching R|. Oracle is the range-join + ROW_NUMBER "
    "formulation - independent derivation, same semantics",
)(_asof_click_purchase)


_register(
    "v_status_preferences_aggonly",
    f"""
    WITH counts AS (
      SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
             SUM(o_totalprice) AS amt, COUNT(o_totalprice) AS n
      FROM orders GROUP BY 1, 2
    ), stats AS (
      SELECT o_orderstatus, CAST(SUM(cnt) AS BIGINT) AS orders,
             {ratio_round_sql(cents_sql('SUM(amt)'), 'SUM(n) * 100', 4)}
               AS avg_price
      FROM counts GROUP BY 1
    ), top AS (
      SELECT o_orderstatus, o_orderpriority AS top_priority
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY o_orderstatus
              ORDER BY cnt DESC, o_orderpriority DESC) AS rn
            FROM counts)
      WHERE rn = 1
    )
    SELECT s.o_orderstatus, s.orders, s.avg_price, t.top_priority
    FROM stats s JOIN top t ON s.o_orderstatus = t.o_orderstatus
    """,
    doc="View 2 in its 100 TB form [SURVEY §4: agg-only top-1]: the "
    "top-priority-per-status argmax computed as max(struct(cnt, "
    "priority)) — pure two-phase hash aggregation, NO window, NO "
    "per-partition sort. Same result as the ROW_NUMBER form "
    "(v_status_preferences) up to the documented tie-break (struct-max "
    "ties resolve priority DESC; the window form uses ASC — the oracle "
    "mirrors DESC). The plan is scan → partial agg → exchange → final "
    "agg, twice — nothing else.",
)(
    lambda spark, sf: _t(spark, sf, "orders")
    .groupBy("o_orderstatus", "o_orderpriority")
    .agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("o_totalprice").alias("amt"),
        F.count("o_totalprice").alias("n"),
    )
    .groupBy("o_orderstatus")
    .agg(
        F.sum("cnt").alias("orders"),
        ratio_round(cents(F.sum("amt")), F.sum("n") * 100, 4).alias("avg_price"),
        F.max(F.struct(F.col("cnt"), F.col("o_orderpriority")))
        .getField("o_orderpriority")
        .alias("top_priority"),
    )
)


def _price_percentiles_approx(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate percentiles per group with an in-plan RANK-BOUND
    audit — the upgrade that gives the sketch entry a real oracle
    (VERDICT r6 item 6, the dedup_lsh_quality pattern): the sketch
    VALUES are engine-specific (Spark QuantileSummaries vs DuckDB
    approx_quantile) and mildly merge-order-dependent, but the
    GUARANTEE — the returned element's exact rank lies within ±N/10000
    of the target rank — is a theorem about any run. So the entry emits
    the exact group counts plus booleans checking the guarantee at 10×
    slack (rank within ±(N/1000 + 1)); the oracle replays counts and
    asserts the booleans TRUE. The raw-value error bound vs exact
    percentiles stays pytest-pinned.

    Plan: one pass for the mergeable sketch (partial+final, bounded
    memory per group), the tiny per-group sketch row broadcast back
    onto the scan for one conditional-count pass — both passes are the
    100 TB shape (no per-group sort anywhere; the exact form
    price_percentiles pays the sort)."""
    orders = _t(spark, sf, "orders").select("o_orderstatus", "o_totalprice")
    approx = orders.groupBy("o_orderstatus").agg(
        F.approx_percentile(
            "o_totalprice", F.lit(0.5), F.lit(10000)
        ).alias("p50"),
        F.approx_percentile(
            "o_totalprice", F.lit(0.9), F.lit(10000)
        ).alias("p90"),
    )
    stats = (
        orders.join(F.broadcast(approx), "o_orderstatus")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("p50"), 1).otherwise(0)
            ).alias("le50"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("p50"), 1).otherwise(0)
            ).alias("lt50"),
            F.sum(
                F.when(F.col("o_totalprice") <= F.col("p90"), 1).otherwise(0)
            ).alias("le90"),
            F.sum(
                F.when(F.col("o_totalprice") < F.col("p90"), 1).otherwise(0)
            ).alias("lt90"),
        )
    )
    n = F.col("n_orders")
    slack = n / 1000 + 1
    return stats.select(
        "o_orderstatus",
        "n_orders",
        (
            (F.col("le50") >= 0.5 * n - slack)
            & (F.col("lt50") <= 0.5 * n + slack)
        ).alias("p50_in_bounds"),
        (
            (F.col("le90") >= 0.9 * n - slack)
            & (F.col("lt90") <= 0.9 * n + slack)
        ).alias("p90_in_bounds"),
    )


_register(
    "price_percentiles_approx",
    """
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders,
           TRUE AS p50_in_bounds, TRUE AS p90_in_bounds
    FROM orders GROUP BY 1
    """,
    doc="Approximate percentiles per group [D-extra, the 100 TB twin of "
    "price_percentiles]: Greenwald-Khanna sketch (approx_percentile, "
    "mergeable, single pass, bounded memory) where the exact form "
    "sorts each group — emitted as a rank-bound AUDIT (exact counts + "
    "guarantee booleans at 10x slack) so the sketch entry carries a "
    "full oracle; value error vs exact percentiles stays pytest-"
    "bounded.",
)(_price_percentiles_approx)


_register(
    "price_percentiles",
    """
    SELECT o_orderstatus,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Exact interpolated percentiles per group [SURVEY D-note: "
    "median/percentile absent from the reference, exposed from Spark "
    "builtins]. percentile() is a single-pass sort-based aggregate; the "
    "scale path for wide cardinalities is approx_percentile (t-digest), "
    "same call shape",
)(
    lambda spark, sf: _t(spark, sf, "orders")
    .groupBy("o_orderstatus")
    .agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("o_totalprice", F.lit(0.99)), 4).alias("p99"),
    )
)


_register(
    "events_value_winsorize",
    """
    WITH b AS (SELECT quantile_cont(value, 0.01) AS lo,
                      quantile_cont(value, 0.99) AS hi
               FROM events)
    SELECT event_id, ROUND(value, 4) AS value,
           ROUND(LEAST(GREATEST(value, lo), hi), 4) AS value_winsorized,
           (value < lo OR value > hi) AS clipped
    FROM events, b
    """,
    doc="Percentile clipping (winsorization) of the event measure "
    "[D-extra/sampling, r6]: p01/p99 computed in ONE single-pass "
    "percentile aggregate, broadcast back as a 1-row scalar join; the "
    "fact table is scanned once and never shuffled. Cents-grid inputs "
    "keep both bounds on the 1e-4 grid (no rounding ties; NOTES.md r6 "
    "percentile argument).",
)(
    lambda spark, sf: _rel.winsorize(
        _t(spark, sf, "events"), "value", "event_id"
    )
)


def _events_rolling_value_quantiles(spark: SparkSession, sf: str) -> DataFrame:
    """Trailing-7-day EXACT p50/p95 of the event value per day — the
    rolling-quantile monitor (latency/spend SLO dashboards) in the
    100 TB shape: no per-row sort or rank window ever touches the
    corpus. Each (day, cents-value) count fans to the ≤7 target days it
    serves (the active_user_counts exploded-fan idiom — a RANGE join
    would plan a nested loop), one re-aggregation lands the (day, value)
    trailing counts, and the order statistics come from a cumulative
    window over the BOUNDED value grid (the conformal/equidepth
    stance: windows over the value DOMAIN, never corpus rows).
    ceil(p·n) ≤ cum is evaluated as the exact integer cross-product
    (100·cum ≥ p%·n); output stays in integer cents — no rounding
    sites at all.
    """
    from pyspark.sql import Window

    ev = (
        _t(spark, sf, "events")
        # NULL measurements excluded on BOTH engines (see
        # events_value_auc; r8 NULL-injection audit).
        .filter(F.col("value").isNotNull())
        .select(
            F.floor(F.unix_millis(F.col("ts")) / F.lit(86400000))
            .cast("long")
            .alias("day_id"),
            F.round(F.col("value") * 100).cast("long").alias("u"),
        )
    )
    # day_counts is the ONE corpus-derived table (bounded |grid|·|days|
    # rows) — checkpointed because both the fan and the present-day set
    # derive from it (an unshared `ev` would re-scan events twice).
    day_counts = (
        ev.groupBy("day_id", "u")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    present = day_counts.select("day_id").distinct()
    fan = day_counts.select(
        F.explode(
            F.sequence(F.col("day_id"), F.col("day_id") + F.lit(6))
        ).alias("td"),
        "u",
        "cnt",
    ).join(present.withColumnRenamed("day_id", "td"), "td")
    t = fan.groupBy("td", "u").agg(F.sum("cnt").alias("c"))
    w_cum = Window.partitionBy("td").orderBy("u").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_tot = Window.partitionBy("td")
    cum = t.select(
        "td",
        "u",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_tot).alias("n"),
    )
    return (
        cum.groupBy("td")
        .agg(
            F.max("n").cast("long").alias("n_7d"),
            F.min(F.when(2 * F.col("cum") >= F.col("n"), F.col("u")))
            .cast("long")
            .alias("p50_cents"),
            F.min(F.when(100 * F.col("cum") >= 95 * F.col("n"), F.col("u")))
            .cast("long")
            .alias("p95_cents"),
        )
        .withColumnRenamed("td", "day_id")
        .orderBy("day_id")
    )


_register(
    "events_rolling_value_quantiles",
    """
    WITH ev AS (
      SELECT epoch_ms(date_trunc('day', ts)) // 86400000 AS day_id,
             CAST(ROUND(value * 100) AS BIGINT) AS u
      FROM events WHERE value IS NOT NULL
    ),
    dc AS MATERIALIZED (
      SELECT day_id, u, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
    present AS (SELECT DISTINCT day_id FROM dc),
    fan AS (
      SELECT day_id + o AS td, u, cnt
      FROM dc, (SELECT unnest(generate_series(0, 6)) AS o)
    ),
    t AS (
      SELECT f.td, f.u, SUM(f.cnt) AS c
      FROM fan f JOIN present p ON p.day_id = f.td
      GROUP BY 1, 2
    ),
    cum AS (
      SELECT td, u,
             SUM(c) OVER (PARTITION BY td ORDER BY u
                          ROWS UNBOUNDED PRECEDING) AS cum,
             SUM(c) OVER (PARTITION BY td) AS n
      FROM t
    )
    SELECT td AS day_id, CAST(MAX(n) AS BIGINT) AS n_7d,
           CAST(MIN(CASE WHEN 2 * cum >= n THEN u END) AS BIGINT)
             AS p50_cents,
           CAST(MIN(CASE WHEN 100 * cum >= 95 * n THEN u END) AS BIGINT)
             AS p95_cents
    FROM cum GROUP BY td ORDER BY day_id
    """,
    doc="Trailing-7-day exact p50/p95 per day [ext/timeseries]: rolling "
    "quantile monitor with NO corpus-row sort/rank - (day, cents) "
    "counts fan to the <=7 days they serve (exploded exact fan, not a "
    "range join), cumulative window over the bounded value grid, "
    "order statistics as exact integer inequalities, output in integer "
    "cents (zero rounding sites).",
)(_events_rolling_value_quantiles)


_register(
    "rollup_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
    doc="ROLLUP hierarchy totals [SURVEY D-note: grouping sets absent from "
    "the reference, exposed from Spark builtins]: per-(status, priority), "
    "per-status subtotals, and the grand total in ONE pass - Catalyst "
    "expands to grouping sets inside a single aggregation, no UNION of "
    "scans",
)(
    lambda spark, sf: _t(spark, sf, "orders")
    .rollup("o_orderstatus", "o_orderpriority")
    .agg(
        F.count(F.lit(1)).alias("orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
    )
)


_register(
    "text_tfidf_top_terms",
    f"""
    WITH words AS (
      SELECT doc_id,
             unnest(string_split(
               {_DEDUP_NORM_SQL.format(col="text")}, ' ')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM words
      WHERE length(term) > 0 GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT COUNT(*) AS n FROM documents)
    SELECT doc_id, term, ROUND(tfidf, 4) AS tfidf, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT tf.doc_id, tf.term,
             tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) AS tfidf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
               ORDER BY tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) DESC,
                        tf.term ASC) AS rnk
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    ) WHERE rnk <= 3
    """,
    doc="Top-3 TF-IDF terms per document [ext/text]: explode -> tf -> df "
    "-> score -> ranked window, corpus size joined as a broadcast 1-row "
    "aggregate (no driver collect)",
)(lambda spark, sf: _text.tfidf_top_terms(_t(spark, sf, "documents")))


# Malformed-JSON tolerance with cross-engine value parity. The naive
# forms diverge three ways (all probed r8): DuckDB's json_extract*
# ERRORS on invalid JSON where Spark's get_json_object returns NULL;
# the two VALIDITY notions differ (Spark's Jackson leniently accepts
# single-quoted keys and trailing garbage that DuckDB's json_valid
# rejects, and rejects leading-zero numbers that a digits regex
# accepts); and DuckDB TRY_CAST('1.5'→2) ROUNDS where Spark
# errors/NULLs. No pair of native validity gates agrees, so VALIDITY is
# carried by ONE shared regex pinning the generator's canonical flat
# form `{"k": <int>}` (JSON-spec integers, ≤18 digits so the cast fits
# int64, explicit [ \t\r\n] whitespace — Java's \s includes VT, RE2's
# does not, and \A/\z anchors — Java's $ matches before a trailing
# newline, RE2's does not; both from the r8 review). Rows passing the
# gate are strictly-valid JSON on BOTH parsers, where each engine's
# native extractor provably returns the same digit string — so the
# VALUE still flows through get_json_object / json_extract_string
# (the SURVEY G-note JSON-function surface), bit-identically.
# Verified value-identical on 18 edge probes incl. both review
# counterexamples. Anything outside the canonical form is NULL on both
# engines by the same rule.
_JSON_K_PAT = (
    r'\A[ \t\r\n]*\{[ \t\r\n]*"k"[ \t\r\n]*:[ \t\r\n]*'
    r"(-?(?:0|[1-9][0-9]{0,17}))[ \t\r\n]*\}[ \t\r\n]*\z"
)
_JSON_K_SQL = (
    f"CASE WHEN regexp_matches(props, '{_JSON_K_PAT}') "
    "THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END"
)


def _json_props_stats(spark: SparkSession, sf: str) -> DataFrame:
    k = F.when(
        F.col("props").rlike(_JSON_K_PAT),
        F.get_json_object("props", "$.k").cast("long"),
    )
    return (
        _t(spark, sf, "events")
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # AVG(int) is a grid quotient (count 2000 = 2^4·5^3 cancels
            # the 1e-4 grid) — exact-integer rounding, not ROUND(double)
            ratio_round(F.sum("k"), F.count("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


_register(
    "json_props_stats",
    f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {ratio_round_sql(f"SUM({_JSON_K_SQL})",
                            f"COUNT({_JSON_K_SQL})",
                            4)} AS avg_k,
           MAX({_JSON_K_SQL}) AS max_k
    FROM events GROUP BY event_type
    """,
    doc="JSON field extraction + aggregation [SURVEY G-note: no JSON "
    "functions in the reference; exposed from Spark builtins]: "
    "get_json_object runs JVM-side inside the scan stage - at scale "
    "prefer from_json with an explicit schema once per row over repeated "
    "per-field parses. Malformed-JSON-tolerant on both engines (NULL, "
    "not error) with an integral-string gate for numeric value parity.",
)(_json_props_stats)


_register(
    "similarity_topk_ivf_nprobe2",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e
             WHERE vec_id % {_sim.IVF_CENTROID_MODULUS} = 0),
    assigned AS (
      {_IVF_ASSIGN_SQL}
    ),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 10),
    probe AS (
      SELECT query_id, q_emb, centroid_id
      FROM (SELECT q.query_id, q.q_emb, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY {_COS_SQL.format(a="q.q_emb", b="c.c_emb")} DESC,
                              c.centroid_id) AS rn
            FROM q, cent c)
      WHERE rn <= 2
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS_SQL.format(a="p.q_emb", b="a.emb")} AS cos
      FROM assigned a JOIN probe p ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id
    )
    {_TOP5_COS_SQL}
    """,
    doc="IVF top-5 with nprobe=2: each query searches its two nearest "
    "clusters - recall rises monotonically with nprobe while per-query "
    "work stays nprobe x cluster-size; the oracle reproduces the exact "
    "probe set deterministically",
)(
    lambda spark, sf: _sim.ivf_topk(
        _t(spark, sf, "embeddings"),
        F.col("vec_id") < 10,
        nprobe=2,
    )
)


_register(
    "distinct_users_per_type",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="DISTINCT-qualified aggregate [SURVEY D-note: absent from the "
    "reference, exposed from Spark builtins]: per-group exact distinct "
    "count - Catalyst plans a two-level expand+aggregate; the 100 TB "
    "scale path is approx_count_distinct (HLL++, mergeable sketches), "
    "same call shape",
)(
    lambda spark, sf: _t(spark, sf, "events")
    .groupBy("event_type")
    .agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
)


_register(
    "approx_distinct_users_per_type",
    """
    SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events, TRUE AS hll_within_tolerance
    FROM events GROUP BY 1
    """,
    doc="HLL++ approximate distinct count per group [D-extra, the 100 TB "
    "twin of distinct_users_per_type]: mergeable sketches, no expand - "
    "one partial+final aggregation where exact distinct pays a two-level "
    "expand. Emitted as an in-plan ACCURACY AUDIT (exact counts + a "
    "WIDE tolerance boolean: 15% relative + 10 absolute, ~10 sigma at "
    "rsd=0.02 — wide because HLL error is probabilistic, not a theorem, "
    "and the oracle asserts TRUE; a 3-sigma bound could go red on a "
    "regenerated fixture with no code bug, review catch) so the sketch "
    "entry carries a full oracle (VERDICT r6 item 6): HLL registers "
    "merge by max, so the estimate is a pure function of the value SET "
    "— the boolean is partition- and run-independent; Spark-vs-DuckDB "
    "estimate deltas (different sketches) never reach the hash. The "
    "TIGHT 3*rsd error bound stays pytest-pinned.",
)(
    lambda spark, sf: _t(spark, sf, "events")
    .groupBy("event_type")
    .agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    .select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("approx_users") - F.col("exact_users")) * 100
            <= 15 * F.col("exact_users") + 1000
        ).alias("hll_within_tolerance"),
    )
)


_register(
    "multimodal_frames",
    """
    SELECT d.doc_id, gs.i AS frame_idx,
           sha256(d.text || chr(CAST(gs.i AS INTEGER))) AS frame_sha256
    FROM (SELECT * FROM documents WHERE text IS NOT NULL) d,
         LATERAL (SELECT unnest(generate_series(
             0, octet_length(encode(d.text)) % 3)) AS i) gs
    """,
    doc="Frame-sampling plumbing for video-like payloads [ext/multimodal]: "
    "each binary payload yields k deterministic frames through the same "
    "Arrow-batched mapInPandas shape a real codec would use - the explode "
    "pattern, schema, and batching are oracle-checked end to end",
)(
    lambda spark, sf: _mm.sample_frames(
        _mm.attach_binary_payload(_t(spark, sf, "documents"))
    )
)


def _rh_near_dup_builder(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The fixture embeddings are random (max pairwise cosine ~0.51), so a
    # 0.95-threshold corpus needs PLANTED near-duplicates; the corpus
    # builder is shared with the pytest recall bound so both always run
    # the same data.
    corpus = _sim.planted_near_dup_corpus(_t(spark, sf_dir, "embeddings"))
    return _sim.rh_near_dup_pairs(corpus)


def _rh_sum_sql(b: int) -> str:
    """DuckDB replay of one SRP plane's signed component sum — the twin
    of `similarity.rh_plane_sign_is_positive` (md5-nibble parity)."""
    plane = f"('0x' || substr(md5('rh:{b}:' || i::VARCHAR), 1, 1))::INT % 2 = 0"
    return f"SUM(CASE WHEN {plane} THEN val ELSE -val END) AS s{b}"


def _rh_chunk_rows(nbits: int, max_hamming: int) -> str:
    """(ci, off, mask) VALUES rows mirroring `dedup.hamming_band_chunks`'
    disjoint chunk layout."""
    n_chunks = max_hamming + 1
    base, extra = divmod(nbits, n_chunks)
    rows, offset = [], 0
    for c in range(n_chunks):
        width = base + (1 if c < extra else 0)
        rows.append(f"({c}, {offset}, {(1 << width) - 1})")
        offset += width
    return ", ".join(rows)


_RH_NBITS = 60
_RH_SIG_SQL = " + ".join(
    f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) "
    "ELSE CAST(0 AS BIGINT) END)"
    for b in range(_RH_NBITS)
)

#: DuckDB replay of `similarity.planted_near_dup_corpus` — shared by the
#: SRP near-dup and SemDeDup oracles (both run on the planted corpus).
_PLANTED_CORPUS_CTE = """corpus AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> CAST(CAST(embedding[i] AS DOUBLE)
                                      + 0.005 * ((i - 1) % 7 - 3)
                                      AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id < 50
    )"""

_register(
    "embedding_near_dup",
    f"""
    WITH {_PLANTED_CORPUS_CTE},
    comps AS (
      SELECT vec_id, dim - 1 AS i, CAST(embedding[dim] AS DOUBLE) AS val
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS dim
            FROM corpus)
    ),
    sums AS (
      SELECT vec_id, {", ".join(_rh_sum_sql(b) for b in range(_RH_NBITS))}
      FROM comps GROUP BY 1
    ),
    sigv AS (SELECT vec_id, {_RH_SIG_SQL} AS rh_sig FROM sums),
    chunks AS MATERIALIZED (
      SELECT s.vec_id, c.ci, (s.rh_sig >> c.off) & c.mask AS cv
      FROM sigv s, (VALUES {_rh_chunk_rows(_RH_NBITS, 5)}) c(ci, off, mask)
    ),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM chunks a
      JOIN chunks b ON a.ci = b.ci AND a.cv = b.cv AND a.vec_id < b.vec_id
    ),
    ce AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM corpus
    ),
    scored AS (
      SELECT c.vec_a, c.vec_b,
             {_COS_SQL.format(a="ea.emb", b="eb.emb")} AS cos
      FROM cand c
      JOIN ce ea ON ea.vec_id = c.vec_a
      JOIN ce eb ON eb.vec_id = c.vec_b
    )
    SELECT vec_a, vec_b, ROUND(cos, 4) AS cosine
    FROM scored WHERE cos >= 0.95
    """,
    doc="Embedding near-duplicate pairs — THE default operator (SRP-LSH, "
    "near-linear; formerly registered as embedding_near_dup_rh_lsh): "
    "random-hyperplane signatures -> Hamming-banded candidate join -> "
    "exact cosine verification, over the fixture corpus plus planted "
    "perturbed duplicates (the fixture's random vectors have no "
    "0.95-pairs of their own). This is the plan a user gets by default; "
    "the quadratic crossJoin survives only as "
    "embedding_near_dup_exact_baseline. FULL oracle (upgraded from "
    "rows-only, VERDICT r6 item 6): the Rademacher planes are md5-nibble "
    "parities both engines replay, the banding chunk layout is the "
    "audited pigeonhole scheme, and candidate verification reuses the "
    "bit-identical cosine form — the candidate SET is deterministic "
    "given the signatures, so LSH 'probabilistic recall' never meant "
    "nondeterministic output, only recall < 1 vs the exact baseline "
    "(still pytest-bounded).",
)(_rh_near_dup_builder)


_register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over (status, priority) [SURVEY D-note: grouping sets "
    "absent from the reference]: all four grouping combinations in one "
    "expand+aggregate pass",
)(
    lambda spark, sf: _t(spark, sf, "orders")
    .cube("o_orderstatus", "o_orderpriority")
    .agg(
        F.count(F.lit(1)).alias("orders"),
        F.round(F.sum("o_totalprice"), 4).alias("revenue"),
    )
)


_register(
    "price_dispersion_stats",
    f"""
    WITH agg AS (
      SELECT o_orderstatus,
             ROUND(MIN(o_totalprice), 4) AS min_price,
             ROUND(MAX(o_totalprice), 4) AS max_price,
             CAST(ROUND(SUM(o_totalprice * o_totalprice)) AS HUGEINT) AS sqi,
             CAST({cents_sql('SUM(o_totalprice)')} AS HUGEINT) AS cents,
             CAST(COUNT(o_totalprice) AS HUGEINT) AS n
      FROM orders GROUP BY o_orderstatus
    ), v AS (
      SELECT o_orderstatus, min_price, max_price,
             CASE WHEN n > 1 THEN
               {ratio_round_sql("n * sqi * 10000 - cents * cents",
                                "n * (n - 1) * 10000", 4)}
             END AS var_price
      FROM agg
    )
    SELECT o_orderstatus, min_price, max_price,
           ROUND(SQRT(var_price), 4) AS stddev_price, var_price
    FROM v
    """,
    doc="Dispersion aggregates per group [SURVEY D-note: min/max/stddev "
    "absent from the reference]: single-pass codegen'd partial+final "
    "aggregation, Welford-style merge for the moments. The variance "
    "n·Σx²·10⁴ − cents² over 10⁴·n(n−1) is a grid quotient — rounded in "
    "exact integer space (numeric.ratio_round); stddev is sqrt of the "
    "ROUNDED variance so both engines feed libm the identical double.",
)(
    lambda spark, sf: _dispersion_stats(spark, sf)
)


def _dispersion_stats(spark: SparkSession, sf: str) -> DataFrame:
    # Moments over GRID-ROUNDED sums: sum(x) rounds to the cents grid,
    # sum(x**2) to the integer grid (float error ~1e-3 vs grid half-width
    # 0.5), so both engines start from identical exact integers. The
    # variance is then the exact integer ratio
    #   (n·sq·10^4 − cents²) / (10^4·n·(n−1))
    # rounded via numeric.ratio_round (the DECIMAL(38,0) internals absorb
    # the ~1e24 numerator at sf0.1); plain ROUND(STDDEV_SAMP, 4) is
    # summation-order-dependent at the last ulp, and rounding the double
    # quotient would tie-break divergently.
    o = _t(spark, sf, "orders")
    x = F.col("o_totalprice")
    agg = o.groupBy("o_orderstatus").agg(
        F.round(F.min(x), 4).alias("min_price"),
        F.round(F.max(x), 4).alias("max_price"),
        F.round(F.sum(x * x), 0).alias("sq"),
        F.round(F.sum(x), 2).alias("s"),
        F.count(x).alias("n"),
    )
    sqi = F.col("sq").cast("decimal(38,0)")
    cents_s = F.round(F.col("s") * 100).cast("decimal(38,0)")
    n38 = F.col("n").cast("decimal(38,0)")
    var = F.when(
        F.col("n") > 1,
        ratio_round(
            (n38 * sqi * F.lit(10_000) - cents_s * cents_s).cast("decimal(38,0)"),
            (n38 * (n38 - 1) * F.lit(10_000)).cast("decimal(38,0)"),
            4,
        ),
    )
    return agg.select(
        "o_orderstatus",
        "min_price",
        "max_price",
        F.round(F.sqrt(var), 4).alias("stddev_price"),
        var.alias("var_price"),
    )


def _grid_kmeans_ctes(src: str, k: int) -> str:
    """DuckDB replay of ``similarity.grid_kmeans`` over source CTE/table
    ``src`` (vec_id, embedding): grid the components to 1e-6 integer
    units (FLOOR of an exact double product), init from the ``k``
    lowest-md5 vectors, unroll ``quantize.LLOYD_ITERS`` Lloyd rounds —
    every distance
    an exact integer SUM (order-free), every centroid update a
    half-away integer mean (numeric.ratio_round_sql, scale 0), empty
    clusters keeping the previous centroid — then the final assignment
    ``gassign`` (vec_id, centroid_id). Pure integer SQL: no engineered
    float-op ordering needed anywhere."""
    n_iter = _quant.LLOYD_ITERS
    mean_int = "CAST(" + ratio_round_sql("u.s", "u.n", 0) + " AS BIGINT)"
    ctes = [
        f"""gcomps AS MATERIALIZED (
      SELECT vec_id, dim,
             CAST(FLOOR(CAST(embedding[dim] AS DOUBLE) * 1000000.0)
                  AS BIGINT) AS u
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS dim
            FROM {src})
    ),
    ganchors AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS j
      FROM {src}
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {k}
    ),
    gcb0 AS MATERIALIZED (
      SELECT a.j, g.dim, g.u AS c
      FROM ganchors a JOIN gcomps g ON g.vec_id = a.vec_id
    )"""
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""ga{i} AS (
      SELECT vec_id, j
      FROM (SELECT vec_id, j,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, j) AS rn
            FROM (SELECT g.vec_id, b.j,
                         SUM((g.u - b.c) * (g.u - b.c)) AS d2
                  FROM gcomps g JOIN gcb{i - 1} b ON b.dim = g.dim
                  GROUP BY 1, 2))
      WHERE rn = 1
    ),
    gu{i} AS (
      SELECT a.j, g.dim, SUM(g.u) AS s, COUNT(*) AS n
      FROM ga{i} a JOIN gcomps g ON g.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    gcb{i} AS MATERIALIZED (
      SELECT c.j, c.dim, COALESCE({mean_int}, c.c) AS c
      FROM gcb{i - 1} c LEFT JOIN gu{i} u ON u.j = c.j AND u.dim = c.dim
    )"""
        )
    ctes.append(
        f"""gassign AS MATERIALIZED (
      SELECT vec_id, CAST(j AS INTEGER) AS centroid_id, d2
      FROM (SELECT vec_id, j, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, j) AS rn
            FROM (SELECT g.vec_id, b.j,
                         SUM((g.u - b.c) * (g.u - b.c)) AS d2
                  FROM gcomps g JOIN gcb{n_iter} b ON b.dim = g.dim
                  GROUP BY 1, 2))
      WHERE rn = 1
    )"""
    )
    return ",\n    ".join(ctes)


_register(
    "similarity_topk_ivf_kmeans",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                       FROM embeddings),
    probes AS (
      SELECT query_id, CAST(j AS INTEGER) AS q_centroid
      FROM (SELECT query_id, j,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, j) AS pr
            FROM (SELECT g.vec_id AS query_id, b.j,
                         SUM((g.u - b.c) * (g.u - b.c)) AS d2
                  FROM gcomps g JOIN gcb2 b ON b.dim = g.dim
                  WHERE g.vec_id < 10
                  GROUP BY 1, 2))
      WHERE pr <= 3
    ),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.emb", b="n.emb")} AS cos
      FROM probes p
      JOIN gassign a ON a.centroid_id = p.q_centroid
      JOIN e q ON q.vec_id = p.query_id
      JOIN e n ON n.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    )
    {_TOP5_COS_SQL}
    """,
    doc="IVF top-5 with a TRAINED k-means coarse quantizer "
    "(similarity.grid_kmeans, 2 grid-Lloyd rounds) - the production ANN "
    "path; probe nprobe=3 of 8 clusters by the quantizer's exact "
    "integer grid metric, score clusters by cosine. FULL oracle "
    "(upgraded r7 from rows-only): training/assignment/probe are pure "
    "integer SQL DuckDB unrolls verbatim; cosine scoring reuses the "
    "bit-identical fold. pytest still bounds recall against brute "
    "force.",
)(
    lambda spark, sf: _sim.ivf_topk_kmeans(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10
    )
)


def _embedding_cluster_cards(spark: SparkSession, sf: str) -> DataFrame:
    """Per-cluster dataset cards over the grid-kmeans partition of the
    embedding space [ext/similarity/eval]: size, corpus share, majority
    label (+ its share — the cluster-purity signal dataset cartography
    reads), and mean squared distance to the centroid in grid units
    (compactness). Collapsed or junk clusters surface as tiny/impure/
    diffuse rows — the triage table before SemDeDup-style pruning.

    Plan: the trained assignment (one Arrow map pass, d2 carried out of
    the mapper — exact integers) joins labels once, then ONE two-level
    aggregate chain: groupBy(cluster, label) with map-side combine →
    groupBy(cluster) with an agg-only min_by majority (no rank window).
    The d2 sums ride DECIMAL(38,0) — n·3.7e14 passes 2^63 near 25k
    vectors/cluster. Output is k rows at any corpus size.
    """
    emb = _t(spark, sf, "embeddings")
    assigned, _ = _sim.grid_kmeans(emb, with_d2=True)
    j = assigned.select("vec_id", "centroid_id", "d2").join(
        emb.select("vec_id", "label"), "vec_id"
    )
    lc = j.groupBy("centroid_id", "label").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("d2").cast("decimal(38,0)")).alias("sd"),
    )
    per = lc.groupBy("centroid_id").agg(
        F.sum("cnt").alias("n"),
        F.sum("sd").cast("decimal(38,0)").alias("sum_d2"),
        F.min_by(
            F.struct(F.col("label"), F.col("cnt")),
            # NULL labels sort FIRST inside a Spark struct comparison but
            # LAST under DuckDB's ORDER BY — map them to an
            # above-INT-range sentinel so a NULL-label tie loses on both
            # engines (the events_ks_fdr nullable-rank rule; label is an
            # INTEGER — a string sentinel coerces the coalesce into a
            # malformed STRING→BIGINT cast the moment a NULL label
            # appears: r8 NULL-injection audit catch).
            F.struct(
                -F.col("cnt"),
                F.coalesce(
                    F.col("label").cast("long"), F.lit(2_147_483_648)
                ),
            ),
        ).alias("top"),
    ).localCheckpoint(eager=False)  # k rows, 2 consumers: total + select
    total = per.agg(F.sum("n").alias("total"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "centroid_id",
            F.col("n").cast("long").alias("n_vecs"),
            ratio_round(F.col("n"), F.col("total"), 4).alias("share"),
            F.col("top.label").alias("top_label"),
            ratio_round(F.col("top.cnt"), F.col("n"), 4).alias(
                "top_label_share"
            ),
            ratio_round(F.col("sum_d2"), F.col("n"), 0)
            .cast("long")
            .alias("mean_d2"),
        )
        .orderBy("centroid_id")
    )


_register(
    "embedding_cluster_cards",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    lab AS (
      SELECT g.centroid_id, g.d2, e.label
      FROM gassign g JOIN embeddings e USING (vec_id)
    ),
    lc AS (
      SELECT centroid_id, label, COUNT(*) AS cnt,
             CAST(SUM(d2) AS HUGEINT) AS sd
      FROM lab GROUP BY 1, 2
    ),
    per AS (
      SELECT centroid_id, SUM(cnt) AS n, SUM(sd) AS sum_d2
      FROM lc GROUP BY 1
    ),
    top AS (
      SELECT centroid_id, label AS top_label, cnt AS top_cnt
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY centroid_id
                                         ORDER BY cnt DESC,
                                                  label ASC NULLS LAST) AS rn
            FROM lc)
      WHERE rn = 1
    ),
    tot AS (SELECT SUM(n) AS total FROM per)
    SELECT p.centroid_id, CAST(p.n AS BIGINT) AS n_vecs,
           {ratio_round_sql("p.n", "tot.total", 4)} AS share,
           t.top_label,
           {ratio_round_sql("t.top_cnt", "p.n", 4)} AS top_label_share,
           CAST({ratio_round_sql("p.sum_d2", "p.n", 0)} AS BIGINT) AS mean_d2
    FROM per p JOIN top t USING (centroid_id) CROSS JOIN tot
    ORDER BY p.centroid_id
    """,
    doc="Per-cluster dataset cards [ext/similarity/eval]: size, share, "
    "majority label + purity, and mean squared grid distance to the "
    "centroid over the grid-kmeans partition - the dataset-cartography "
    "triage table before SemDeDup-style pruning. One Arrow assignment "
    "pass (exact integer d2 out of the mapper) + one two-level "
    "aggregate with an agg-only min_by majority; DECIMAL d2 sums "
    "(n x 3.7e14 passes 2^63 near 25k vectors/cluster); k rows out at "
    "any corpus size.",
)(_embedding_cluster_cards)


def _embedding_knn_graph(spark: SparkSession, sf: str) -> DataFrame:
    """1-NN graph over the corpus: every vector's nearest neighbor
    WITHIN its grid-kmeans cell by cosine — the kNN-graph construction
    step of SemDeDup/graph-clustering pipelines (query-based top-k
    serves retrieval; this serves the corpus-wide self-join). Cells
    bound the join to Σ|c|² like semantic_dedup; the per-vector argmax
    is an agg-only min_by over (−cos, neighbor) — no rank window, so a
    dense cell never funnels its scored pairs through one task beyond
    the aggregate's map-side combine. Vectors alone in their cell have
    no neighbor and are absent from the output (documented, oracle
    agrees)."""
    _, scored = _sim.cell_pair_scores(_t(spark, sf, "embeddings"))
    # Explicit NULLS-LAST on the nullable cosine (a zero-norm vector
    # yields cos = NULL): min_by's struct comparison would rank NULL
    # first while the oracle's DESC defaults NULLS LAST — the CLAUDE.md
    # nullable-rank rule. +inf sorts a NULL-cos neighbor behind every
    # real one on both engines.
    null_last = F.when(
        F.col("cos").isNotNull(), -F.col("cos")
    ).otherwise(F.lit(float("inf")))
    best = scored.groupBy("vec_a").agg(
        F.min_by(
            F.struct(F.col("vec_b"), F.col("cos")),
            F.struct(null_last, F.col("vec_b")),
        ).alias("best")
    )
    return best.select(
        F.col("vec_a").alias("vec_id"),
        F.col("best.vec_b").alias("nn_id"),
        F.round(F.col("best.cos"), 4).alias("cosine"),
    ).orderBy("vec_id")


_register(
    "embedding_knn_graph",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    ce AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                        FROM embeddings),
    scored AS (
      SELECT a.vec_id, b.vec_id AS nn_id,
             {_COS_SQL.format(a="ea.emb", b="eb.emb")} AS cos
      FROM gassign a
      JOIN gassign b ON b.centroid_id = a.centroid_id
                    AND b.vec_id <> a.vec_id
      JOIN ce ea ON ea.vec_id = a.vec_id
      JOIN ce eb ON eb.vec_id = b.vec_id
    )
    SELECT vec_id, nn_id, ROUND(cos, 4) AS cosine
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY cos DESC NULLS LAST, nn_id)
                      AS rn
          FROM scored)
    WHERE rn = 1 ORDER BY vec_id
    """,
    doc="1-NN graph construction [ext/similarity]: every vector's "
    "nearest in-cell neighbor by cosine over the grid-kmeans partition "
    "- the corpus-wide kNN-graph step of SemDeDup/graph-clustering "
    "pipelines. Cell-bounded self-join (Sigma |c|^2), agg-only min_by "
    "argmax (no rank window), bit-identical cosine fold; singleton-cell "
    "vectors have no neighbor (absent on both engines).",
)(_embedding_knn_graph)


_register(
    "char_shingle_profile",
    f"""
    WITH norm AS (SELECT doc_id, {{norm}} AS t FROM documents),
    grams AS (
      SELECT DISTINCT doc_id, substring(t, gs.i, 3) AS sh
      FROM norm, LATERAL (SELECT unnest(generate_series(1, length(t) - 2)) AS i) gs
      WHERE length(t) >= 3
    )
    SELECT doc_id, COUNT(*) AS n_shingles
    FROM grams GROUP BY doc_id
    """.format(norm=_NORM_SQL),
    doc="Character-3-gram shingle profile [ext/dedup]: distinct char "
    "shingle count per doc - oracle-checks the char unit of the shingle "
    "pipeline (the pair join itself stays word-gram: char-grams over a "
    "small alphabet make every shingle hot, see shingles() docstring)",
)(
    lambda spark, sf: _dedup_ops.shingle_arrays(
        _t(spark, sf, "documents")
    ).select("doc_id", F.col("n_sh").alias("n_shingles"))
)


_register(
    "multimodal_resize_plan",
    """
    WITH m AS (SELECT doc_id, octet_length(encode(text)) AS n
               FROM documents WHERE text IS NOT NULL),
    d AS (SELECT doc_id,
                 CAST(n % 640 + 1 AS INTEGER) AS width,
                 CAST(n % 480 + 1 AS INTEGER) AS height
          FROM m)
    SELECT doc_id, width, height,
           CAST(FLOOR(width * LEAST(224.0 / width, 224.0 / height, 1.0))
                AS INTEGER) AS out_width,
           CAST(FLOOR(height * LEAST(224.0 / width, 224.0 / height, 1.0))
                AS INTEGER) AS out_height
    FROM d
    """,
    doc="Resize planning for image payloads [ext/multimodal]: "
    "aspect-preserving fit-in-box output dims through the Arrow-batched "
    "mapInPandas plumbing a real resampler would use - arithmetic "
    "oracle-checked end to end",
)(
    lambda spark, sf: _mm.resize_meta(
        _mm.attach_binary_payload(_t(spark, sf, "documents"))
    )
)


_register(
    "multimodal_features",
    """
    WITH b AS (SELECT doc_id, hex(encode(text)) AS hx
               FROM documents WHERE text IS NOT NULL),
    bytes AS (
      SELECT doc_id, ('0x' || substr(hx, 2 * i - 1, 2))::BIGINT // 16 AS bin
      FROM (SELECT doc_id, hx, unnest(generate_series(1, length(hx) // 2)) AS i
            FROM b)
    ),
    counts AS (SELECT doc_id, bin, COUNT(*) AS c FROM bytes GROUP BY 1, 2),
    grid AS (
      SELECT d.doc_id, g.bin
      FROM (SELECT DISTINCT doc_id FROM b) d,
           (SELECT unnest(generate_series(0, 15)) AS bin) g
    ),
    filled AS (
      SELECT grid.doc_id, grid.bin, COALESCE(counts.c, 0) AS c
      FROM grid LEFT JOIN counts
        ON grid.doc_id = counts.doc_id AND grid.bin = counts.bin
    )
    SELECT doc_id, array_to_string(list(c ORDER BY bin), ',') AS features
    FROM filled GROUP BY doc_id
    """,
    doc="Feature extraction over binary payloads [ext/multimodal]: 16-bin "
    "byte-value histogram per payload (numpy bincount inside Arrow-batched "
    "mapInPandas — the stand-in for an embedding-model forward pass). The "
    "registered projection joins the array<long> vector into a "
    "','-separated string (the driver's canonicalizer cannot hash list "
    "cells); the oracle rebuilds the same histogram from hex(encode(text)) "
    "so the Pandas-UDF path is value-checked end to end.",
)(
    lambda spark, sf: _mm.extract_features(
        _mm.attach_binary_payload(_t(spark, sf, "documents"))
    ).withColumn(
        "features",
        F.array_join(F.col("features").cast("array<string>"), ","),
    )
)


# --------------------------------------------------------------------------
# Round-3 registrations: the four operators that shipped unregistered in the
# r2 snapshot (VERDICT r2 item 1), plus the decontamination-grade curation
# funnel (item 6). Every oracle below is generated from the SAME constants
# its Spark builder is called with.
# --------------------------------------------------------------------------

# -- PII scan + redaction --------------------------------------------------
# SQL pieces generated from text.PII_PATTERNS so pattern edits re-generate
# the oracle; patterns are RE2 ∩ java.util.regex-identical by design (see
# the PII_PATTERNS comment in operators/text.py).
_PII_ESC = {
    name: (pat.replace("'", "''"), tok)
    for name, (pat, tok) in _text.PII_PATTERNS.items()
}
_PII_COUNTS_SQL = ",\n                 ".join(
    "len(regexp_extract_all(t, '" + pat + "')) AS n_" + name
    for name, (pat, _tok) in _PII_ESC.items()
)
_PII_RED_SQL = "t"
for _pat, _tok in _PII_ESC.values():
    _PII_RED_SQL = (
        "regexp_replace(" + _PII_RED_SQL + ", '" + _pat + "', '" + _tok + "', 'g')"
    )
_PII_HAS_SQL = " OR ".join("n_" + name + " > 0" for name in _PII_ESC)

_register(
    "pii_scan",
    f"""
    SELECT doc_id, {", ".join("n_" + n for n in _PII_ESC)},
           ({_PII_HAS_SQL}) AS has_pii,
           redacted_fp
    FROM (SELECT doc_id,
                 {_PII_COUNTS_SQL},
                 md5({_PII_RED_SQL}) AS redacted_fp
          FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents))
    """,
    doc="PII detection + redaction [ext/text]: per-pattern match counts, "
    "any-hit flag, md5 of the fully redacted text — the redaction RESULT "
    "is oracle-checked, not just the counts. Pure regexp builtins, zero "
    "shuffles; patterns restricted to the RE2 ∩ java.util.regex-identical "
    "subset so both engines find the same matches.",
)(lambda spark, sf: _text.pii_scan(_t(spark, sf, "documents")))


# -- Benchmark contamination check -----------------------------------------
_register(
    "benchmark_contamination",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    bucketed AS (
      SELECT doc_id, t,
             ('0x' || substr(md5('bench:' || doc_id), 1, 7))::BIGINT
               % {_sampling.N_BUCKETS} AS b
      FROM norm
    ),
    bench AS (SELECT doc_id, t FROM bucketed WHERE b < {_dedup.CONTAM_BENCH_BUCKETS}),
    corpus AS (SELECT doc_id, t FROM bucketed WHERE b >= {_dedup.CONTAM_BENCH_BUCKETS}),
    bench_sh AS (SELECT DISTINCT sh FROM ({_gram_sql(_dedup.CONTAM_NGRAM, "bench")})),
    corpus_sh AS (
      SELECT DISTINCT doc_id, sh FROM ({_gram_sql(_dedup.CONTAM_NGRAM, "corpus")})
    )
    SELECT c.doc_id,
           COUNT(*) AS n_shingles,
           COUNT(b.sh) AS n_contaminated,
           {ratio_round_sql("COUNT(b.sh)", "COUNT(*)", 4)}
             AS contamination_ratio,
           (COUNT(b.sh) / CAST(COUNT(*) AS DOUBLE)) >= {_dedup.CONTAM_THRESHOLD} AS flagged
    FROM corpus_sh c LEFT JOIN bench_sh b ON c.sh = b.sh
    GROUP BY 1
    """,
    doc="Train/eval decontamination [ext/dedup]: per corpus document, the "
    "fraction of its word-5-gram shingles that also appear in the held-out "
    "benchmark split (deterministic 5% hash split standing in for a real "
    "eval suite). Bench shingle set is built once and broadcast — the "
    "corpus side never shuffles shingles, only doc_ids.",
)(
    lambda spark, sf: _dedup.benchmark_contamination(_t(spark, sf, "documents"))
)


# -- Context-window packing ------------------------------------------------


def _greedy_pack_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    tok = docs.select(
        "doc_id",
        F.size(F.split(_dedup._norm(F.col("text")), " ")).alias("n_tokens"),
    )
    return _sampling.greedy_pack(tok, "doc_id", "n_tokens")


# Shared greedy-pack replay CTEs (dataset_greedy_pack + the shard merge
# planner replay over its output). `//` is DuckDB's exact integral
# division, the twin of the engine's `div`: the double floor route is
# exact only below 2^53 token-prefix (ADVICE r9).
_GP_PACKS_CTES = f"""norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    tok AS (SELECT doc_id, len(string_split(t, ' ')) AS n_tokens FROM norm),
    b AS (SELECT doc_id, n_tokens,
                 (('0x' || substr(md5('pack:' || doc_id), 1, 7))::BIGINT
                   % {_sampling.N_BUCKETS}) % {_sampling.PACK_BUCKETS} AS bucket
          FROM tok),
    packs AS (
      SELECT doc_id, n_tokens, bucket,
             CAST((SUM(n_tokens) OVER w - n_tokens) // {_sampling.PACK_BUDGET}
                  AS BIGINT) AS pack_ix
      FROM b
      WINDOW w AS (PARTITION BY bucket ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""

_register(
    "dataset_greedy_pack",
    f"""
    WITH {_GP_PACKS_CTES}
    SELECT doc_id, n_tokens, bucket, pack_ix FROM packs
    """,
    doc="Context-window packing [ext/sampling]: documents shard into "
    f"{_sampling.PACK_BUCKETS} hash buckets, lay out in id order, and each doc "
    "belongs to the pack its FIRST token lands in (floor of the running "
    "prefix over the token budget) — fixed-stride sequence packing, one "
    "shuffle + one running-sum window, no global ordering.",
)(_greedy_pack_q)


# -- Rolling time-window features ------------------------------------------
_register(
    "rolling_time_features",
    f"""
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           COUNT(*) OVER w AS n_trailing,
           ROUND(SUM(ROUND(value, 2)) OVER w, 2) AS sum_value_trailing
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN {_rel.ROLLING_WINDOW_S * 1_000_000 - 1} PRECEDING
                           AND CURRENT ROW)
    """,
    doc="Trailing time-window features [ext/relational]: per event, count "
    "and grid-rounded value sum of the same user's events in the half-open "
    "hour before it — a RANGE frame over epoch microseconds (value-based; "
    "tie rows see identical frames, so no tie-breaker is needed). One "
    "WindowExec serves both expressions.",
)(
    lambda spark, sf: _rel.rolling_time_features(
        _t(spark, sf, "events"),
        "user_id",
        "ts",
        "value",
        "event_id",
    )
)


# -- Decontamination-grade curation funnel ---------------------------------
def _decontamination_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    corpus = docs.filter(
        _sampling.hash_bucket(F.col("doc_id"), "bench")
        >= _dedup.CONTAM_BENCH_BUCKETS
    )
    # integer-predicate form of quality_scores(...).filter(score >= 0.45)
    # (see _corpus_curation)
    q_ok = _text.quality_keep(corpus, 0.45)
    rep_ok = (
        _text.repetition_signals(corpus)
        .filter(F.col("dup_3gram_frac") <= 0.2)
        .select("doc_id")
    )
    flagged = (
        _dedup.benchmark_contamination(docs)
        .filter(F.col("flagged"))
        .select("doc_id")
    )
    kept = (
        corpus.join(q_ok, "doc_id", "leftsemi")
        .join(rep_ok, "doc_id", "leftsemi")
        .join(flagged, "doc_id", "left_anti")
    )
    dedup_keep = (
        kept.select("doc_id", F.md5(_dedup._norm(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    return (
        _sampling.hash_split(dedup_keep.select("doc_id"), "doc_id")
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


_register(
    "corpus_decontamination_pipeline",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    bucketed AS (
      SELECT doc_id, t,
             ('0x' || substr(md5('bench:' || doc_id), 1, 7))::BIGINT
               % {_sampling.N_BUCKETS} AS b
      FROM norm
    ),
    bench AS (SELECT doc_id, t FROM bucketed WHERE b < {_dedup.CONTAM_BENCH_BUCKETS}),
    corpus AS (SELECT doc_id, t FROM bucketed WHERE b >= {_dedup.CONTAM_BENCH_BUCKETS}),
    bench_sh AS (SELECT DISTINCT sh FROM ({_gram_sql(_dedup.CONTAM_NGRAM, "bench")})),
    corpus_sh AS (
      SELECT DISTINCT doc_id, sh FROM ({_gram_sql(_dedup.CONTAM_NGRAM, "corpus")})
    ),
    cont_flagged AS (
      SELECT c.doc_id
      FROM corpus_sh c LEFT JOIN bench_sh bs ON c.sh = bs.sh
      GROUP BY 1
      HAVING (COUNT(bs.sh) / CAST(COUNT(*) AS DOUBLE)) >= {_dedup.CONTAM_THRESHOLD}
    ),
    base AS (
      SELECT doc_id, t,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS letters,
             CAST({_lang_score_sql("(' ' || t || ' ')", "en")} AS BIGINT) AS stops
      FROM corpus
    ),
    q_ok AS (
      -- exact-integer rounded score (numeric.ratio_round) to match the
      -- Spark side, which filters the ROUNDED quality_scores output
      SELECT doc_id FROM (
        SELECT doc_id, {_QS_SCORE_SQL} AS score
        FROM base)
      WHERE score >= 0.45
    ),
    g3s AS (
      SELECT doc_id, SUM(c) AS total, COUNT(*) AS dist FROM (
        SELECT doc_id, sh, COUNT(*) AS c
        FROM ({_gram_sql(3, "corpus")})
        GROUP BY 1, 2)
      GROUP BY 1
    ),
    rep_ok AS (
      SELECT w.doc_id
      FROM (SELECT DISTINCT doc_id FROM
              (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM corpus)
            WHERE length(w) > 0) w
      LEFT JOIN g3s ON g3s.doc_id = w.doc_id
      WHERE {_dup_frac_sql("g3s")} <= 0.2
    ),
    dedup AS (
      SELECT MIN(n.doc_id) AS doc_id
      FROM corpus n
      JOIN q_ok ON q_ok.doc_id = n.doc_id
      JOIN rep_ok ON rep_ok.doc_id = n.doc_id
      LEFT JOIN cont_flagged cf ON cf.doc_id = n.doc_id
      WHERE cf.doc_id IS NULL
      GROUP BY md5(n.t)
    )
    SELECT CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs
    FROM (SELECT ('0x' || substr(md5('split:' || doc_id), 1, 7))::BIGINT
                   % {_sampling.N_BUCKETS} AS bucket
          FROM dedup)
    GROUP BY 1
    """,
    doc="The PRETRAINING funnel end to end [ext/pipeline showcase]: "
    "benchmark split carved out -> quality filter ∩ repetition filter ∩ "
    "NOT contaminated (5-gram overlap vs the bench split, broadcast join) "
    "-> exact dedup keep-min-id -> deterministic train/val/test split -> "
    "per-split counts. Extends corpus_curation_pipeline with the "
    "decontamination stage; one declarative DAG, every stage an "
    "already-oracle-checked operator, the composition oracle-checked here.",
)(_decontamination_pipeline)


# --------------------------------------------------------------------------
# Round 3: web-corpus curation extensions — boilerplate phrase mining,
# span-dup profiling, domain caps, temperature reweighting, and scale-safe
# global ranking. No reference counterpart (SURVEY.md §7 Phase 4).
# --------------------------------------------------------------------------

_register(
    "text_boilerplate_phrases",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, sh FROM ({_gram_sql(3)}))
    SELECT sh AS phrase, COUNT(*) AS n_docs
    FROM sh
    GROUP BY sh
    HAVING COUNT(*) >= {_text.BOILERPLATE_MIN_DOCS}
    ORDER BY n_docs DESC, phrase
    LIMIT {_text.BOILERPLATE_K}
    """,
    doc="Boilerplate phrase mining [ext/text]: top word-3-grams by "
    "document frequency (>= 5 docs), the phrase table a web-corpus "
    "cleaner subtracts; global top-k via TakeOrderedAndProject (per-task "
    "heaps, no global sort).",
)(
    lambda spark, sf: _text.boilerplate_phrases(_t(spark, sf, "documents"))
)


_register(
    "text_span_dup_profile",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, sh FROM ({_gram_sql(5)})),
    d AS (SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS span_df
          FROM sh),
    prof AS (
      SELECT doc_id, COUNT(*) AS n_spans,
             CAST(SUM(CASE WHEN span_df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM d GROUP BY 1
    )
    SELECT doc.doc_id,
           COALESCE(n_spans, 0) AS n_spans,
           COALESCE(n_shared, 0) AS n_shared_spans,
           {ratio_round_sql("COALESCE(n_shared, 0)",
                            "GREATEST(COALESCE(n_spans, 0), 1)", 4)}
             AS shared_span_frac
    FROM documents doc LEFT JOIN prof ON prof.doc_id = doc.doc_id
    """,
    doc="Per-doc duplicated-span signal [ext/dedup, Lee et al. 2107.06499 "
    "summary form]: fraction of a doc's distinct word-5-gram spans that "
    "also occur in another document; docfreq via map-side-combined "
    "groupBy(span) + join-back (Zipf-skew-safe — no hot-key count "
    "window), short docs kept with 0 spans via the id spine.",
)(lambda spark, sf: _dedup.span_dup_profile(_t(spark, sf, "documents")))


_register(
    "dataset_source_cap",
    """
    SELECT doc_id, source, rnk, rnk <= 15 AS kept
    FROM (SELECT doc_id, source,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5('cap:' || doc_id), doc_id) AS rnk
          FROM documents)
    """,
    doc="Per-source document cap [ext/sampling]: domain rebalancing — keep "
    "at most 15 docs per source in deterministic hash order (RefinedWeb/"
    "C4-style host downsampling); one stratum shuffle + WindowExec.",
)(
    lambda spark, sf: _sampling.source_cap(
        _t(spark, sf, "documents"), "source", "doc_id", cap=15
    )
)


_register(
    "lang_temperature_weights",
    f"""
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
               FROM documents GROUP BY 1),
    u AS (SELECT lang, n_docs,
                 CAST(ROUND(sqrt(n_docs), 4) * 10000 AS BIGINT) AS pu
          FROM c),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS total_docs,
                 CAST(SUM(pu) AS BIGINT) AS tpu
          FROM u)
    SELECT lang, n_docs,
           {ratio_round_sql("n_docs", "total_docs", 4)} AS p,
           {ratio_round_sql("pu", "tpu", 4)} AS w_temp,
           {ratio_round_sql("pu * total_docs", "tpu * n_docs", 4)} AS boost
    FROM u, t
    """,
    doc="Temperature sampling weights per language [ext/sampling]: "
    "w ∝ p^0.5 (XLM-R multilingual rebalancing). alpha=0.5 is sqrt — "
    "IEEE correctly-rounded, unlike pow — the normalizer sums exact "
    "1e-4-unit integers, and all three outputs round as exact integer "
    "ratios (numeric.ratio_round; boost is cross-multiplied into one "
    "ratio, no intermediate float division).",
)(
    lambda spark, sf: _sampling.temperature_weights(_t(spark, sf, "documents"), "lang")
)


def _quality_rank_deciles(spark: SparkSession, sf: str) -> DataFrame:
    q = _text.quality_scores(_t(spark, sf, "documents")).select(
        "doc_id", "quality_score"
    )
    return _rel.grouped_rank_tiles(q, "quality_score", "doc_id")


_register(
    "quality_rank_deciles",
    f"""
    WITH base AS (
      SELECT doc_id, t,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS letters,
             CAST({_lang_score_sql("(' ' || t || ' ')", "en")} AS BIGINT) AS stops
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    ), q AS (
      -- NULL score (NULL text) ranks as 0.0 — the documented
      -- grouped_rank_tiles precondition-violation behavior (r8
      -- NULL-injection audit).
      SELECT doc_id, COALESCE({_QS_SCORE_SQL}, 0.0) AS quality_score
      FROM base
    ), r AS (
      SELECT doc_id, quality_score,
             ROW_NUMBER() OVER (ORDER BY quality_score DESC, doc_id) AS rnk,
             COUNT(*) OVER () AS n_total
      FROM q
    )
    SELECT doc_id, quality_score, rnk,
           CAST(FLOOR((rnk - 1) * {_rel.RANK_TILES} / n_total) AS INT) AS tile
    FROM r
    """,
    doc="Curriculum decile binning [ext/text]: exact global rank + decile "
    "over the quality score WITHOUT a single-partition window — "
    "per-score counts (bounded by the 4-decimal grid) + running "
    "higher-count broadcast back + within-score ROW_NUMBER. The oracle "
    "replays it as the equivalent plain ROW_NUMBER, proving the "
    "distributed rank IS the global rank.",
)(_quality_rank_deciles)


_register(
    "text_unigram_logprob",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split(t, ' ')) AS term
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM words
      WHERE length(term) > 0 GROUP BY 1, 2
    ), vocab AS (
      SELECT term, SUM(tf) AS term_count FROM tf GROUP BY 1
    ), tot AS (SELECT SUM(term_count) AS total_tokens FROM vocab),
    contrib AS (
      SELECT tf.doc_id, tf.tf,
             CAST(ROUND(tf.tf * -ln(term_count / CAST(total_tokens AS DOUBLE)),
                        6) AS DECIMAL(28, 6)) AS contrib
      FROM tf JOIN vocab USING (term) CROSS JOIN tot
    )
    SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
           {ratio_round_sql("CAST(SUM(contrib) * 1000000 AS HUGEINT)",
                            "SUM(tf) * 1000000", 4)} AS avg_nll
    FROM contrib GROUP BY 1
    """,
    doc="Unigram-LM perplexity proxy [ext/text, CCNet/KenLM lineage]: "
    "per-doc average negative log prob under the corpus's own unigram "
    "distribution. Contributions round to a 6-decimal grid and sum as "
    "DECIMAL (exact, order-independent); the grid-sum/count quotient "
    "rounds in exact integer space (numeric.ratio_round).",
)(lambda spark, sf: _text.unigram_logprob(_t(spark, sf, "documents")))


_register(
    "events_funnel",
    """
    WITH w AS (
      SELECT user_id, event_type, ts,
             MIN(CASE WHEN event_type = 'view' THEN ts END)
               OVER (PARTITION BY user_id) AS t0
      FROM events
    ), w1 AS (
      SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= t0 THEN ts END)
                  OVER (PARTITION BY user_id) AS t1 FROM w
    ), w2 AS (
      SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= t1 THEN ts END)
                  OVER (PARTITION BY user_id) AS t2 FROM w1
    ), u AS (
      SELECT user_id, MIN(t0) AS t0, MIN(t1) AS t1, MIN(t2) AS t2
      FROM w2 GROUP BY 1
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t0) AS n_view, COUNT(t1) AS n_click,
           COUNT(t2) AS n_purchase,
           ROUND(COUNT(t0) / CAST(COUNT(*) AS DOUBLE), 4) AS rate_view,
           ROUND(COUNT(t1) / CAST(COUNT(t0) AS DOUBLE), 4) AS rate_click,
           ROUND(COUNT(t2) / CAST(COUNT(t1) AS DOUBLE), 4) AS rate_purchase
    FROM u
    """,
    doc="Ordered conversion funnel [ext/events]: users reaching "
    "view -> click-at-or-after -> purchase-at-or-after, with step and "
    "from-start rates. ONE Exchange(user), unordered-frame windows "
    "chained on the same partitioning, groupBy(user) reuses it.",
)(lambda spark, sf: _rel.funnel_steps(_t(spark, sf, "events")))


_register(
    "embedding_semantic_dedup",
    f"""
    WITH {_PLANTED_CORPUS_CTE},
    {_grid_kmeans_ctes("corpus", 8)},
    ce AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                        FROM corpus),
    dups AS (
      SELECT a.vec_id, MIN(b.vec_id) AS dup_of
      FROM gassign a
      JOIN gassign b ON b.centroid_id = a.centroid_id
                    AND b.vec_id < a.vec_id
      JOIN ce ea ON ea.vec_id = a.vec_id
      JOIN ce eb ON eb.vec_id = b.vec_id
      WHERE {_COS_SQL.format(a="ea.emb", b="eb.emb")} >= 0.95
      GROUP BY 1
    )
    SELECT g.vec_id, g.centroid_id, (d.dup_of IS NULL) AS kept, d.dup_of
    FROM gassign g LEFT JOIN dups d ON d.vec_id = g.vec_id
    """,
    doc="SemDeDup-style semantic dedup [ext/similarity, arXiv:2303.09540]: "
    "k-means clusters bucket the embedding space, cosine compared only "
    "within clusters, keep-first drop decision per vector. Third "
    "bucketing family next to SRP-LSH bands and IVF lists; cluster "
    "count is the Σ|c|² knob. FULL oracle (upgraded r7 from rows-only): "
    "the quantizer is similarity.grid_kmeans — pure integer grid Lloyd "
    "DuckDB unrolls verbatim — and the within-cluster verify reuses the "
    "bit-identical cosine fold over the replayed planted corpus; pytest "
    "still bounds recall against the exact quadratic baseline.",
)(
    lambda spark, sf: _sim.semantic_dedup(
        _sim.planted_near_dup_corpus(_t(spark, sf, "embeddings")),
    )
)


def _cluster_rollup(labels: DataFrame, n_col: str, members_col: str) -> DataFrame:
    """Per ``cluster_id`` of (doc_id, cluster_id) labels: the member
    count as ``n_col`` and the ascending member ids joined by ' ' as
    ``members_col`` — a string, because the result canonicalizer
    cannot hash list cells (the multimodal_features pattern)."""
    return labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias(n_col),
        F.array_join(
            _rel.ordered_array_agg(
                F.col("doc_id"), F.col("doc_id"), ascending=True
            ).cast("array<string>"),
            " ",
        ).alias(members_col),
    )


def _embedding_semantic_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Semantic duplicate CLUSTERS: connected components over the
    SemDeDup within-cluster pair graph, rolled up per component — the
    embedding-space twin of ``dedup_minhash_clusters`` (pairs alone
    over-delete: {A,B},{B,C} must collapse to one cluster). Shares the
    pair subplan with ``embedding_semantic_dedup``
    (``similarity.semantic_dup_pairs``) and the iterative min-label CC
    with every other cluster roll-up (``dedup.duplicate_clusters``)."""
    corpus = _sim.planted_near_dup_corpus(_t(spark, sf, "embeddings"))
    _, pairs = _sim.semantic_dup_pairs(corpus)
    labels = _dedup.duplicate_clusters(
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )
    return _cluster_rollup(labels, "n_members", "members").orderBy("cluster_id")


_register(
    "embedding_semantic_clusters",
    f"""
    WITH RECURSIVE {_PLANTED_CORPUS_CTE},
    {_grid_kmeans_ctes("corpus", 8)},
    ce AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
                        FROM corpus),
    pairs AS MATERIALIZED (
      SELECT b.vec_id AS doc_a, a.vec_id AS doc_b
      FROM gassign a
      JOIN gassign b ON b.centroid_id = a.centroid_id
                    AND b.vec_id > a.vec_id
      JOIN ce ea ON ea.vec_id = a.vec_id
      JOIN ce eb ON eb.vec_id = b.vec_id
      WHERE {_COS_SQL.format(a="ea.emb", b="eb.emb")} >= 0.95
    ),
    {_cc_ctes("pairs")}
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
           array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id),
                           ' ') AS members
    FROM labels GROUP BY 1 ORDER BY 1
    """,
    doc="Semantic duplicate clusters [ext/similarity/dedup]: connected "
    "components over the SemDeDup within-cell cosine pair graph, "
    "rolled up per component (min-id label, member list as a "
    "driver-hashable string) - the embedding-space twin of "
    "dedup_minhash_clusters. Shares the pair subplan with "
    "embedding_semantic_dedup and the recursive-closure oracle block "
    "with every cluster roll-up.",
)(_embedding_semantic_clusters)


# --------------------------------------------------------------------------
# Round-5 additions: DSIR weights, hashed linear classifier, BM25 retrieval,
# quality-aware dedup representatives.
# --------------------------------------------------------------------------

_DSIR_B = _sampling.DSIR_BUCKETS

_register(
    "dataset_dsir_weights",
    f"""
    WITH norm AS (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_target,
             string_split({_NORM_SQL}, ' ') AS w
      FROM documents
    ),
    uni AS (
      SELECT doc_id, is_target, unnest(w) AS sh FROM norm
    ),
    bi AS (
      SELECT doc_id, is_target, w[i] || ' ' || w[i + 1] AS sh
      FROM (SELECT doc_id, is_target, w,
                   unnest(generate_series(1, len(w) - 1)) AS i
            FROM norm WHERE len(w) >= 2)
    ),
    grams AS (
      SELECT * FROM uni WHERE length(sh) > 0
      UNION ALL SELECT * FROM bi
    ),
    db AS (
      SELECT doc_id, is_target,
             ('0x' || substr(md5(sh), 1, 7))::BIGINT % {_DSIR_B} AS bucket,
             COUNT(*) AS n_occ
      FROM grams GROUP BY 1, 2, 3
    ),
    bs AS (
      SELECT bucket, SUM(n_occ) AS raw_ct, SUM(n_occ * is_target) AS tgt_ct
      FROM db GROUP BY 1
    ),
    tot AS (SELECT SUM(raw_ct) AS raw_total, SUM(tgt_ct) AS tgt_total FROM bs),
    lr AS (
      SELECT bucket,
             CAST(ROUND(ln(((tgt_ct + 1.0) / (tgt_total + {_DSIR_B}))
                        / ((raw_ct + 1.0) / (raw_total + {_DSIR_B}))), 6)
                  AS DECIMAL(18, 6)) AS lr
      FROM bs CROSS JOIN tot
    )
    SELECT db.doc_id, CAST(SUM(n_occ) AS BIGINT) AS n_grams,
           CAST(ROUND(SUM(n_occ * lr), 4) AS DOUBLE) AS log_weight
    FROM db JOIN lr USING (bucket) GROUP BY 1
    """,
    doc="DSIR importance weights [ext/sampling, arXiv:2302.03169]: "
    "per-doc log p_target/p_raw under add-1-smoothed hashed uni+bi-gram "
    "models (target = lang='en' rows). Log-ratios on a 6-decimal grid, "
    "DECIMAL sums — cross-engine exact. One corpus pass, bucket model "
    "broadcasts back.",
)(
    lambda spark, sf: _sampling.dsir_importance_weights(
        _t(spark, sf, "documents"), target=F.col("lang") == "en"
    )
)


_register(
    "text_quality_classifier",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
      FROM documents
    ),
    scored AS (
      SELECT doc_id,
             (('0x' || substr(md5(w), 1, 7))::BIGINT % {_text.CLF_BUCKETS})
               * {_text.CLF_MULT} % 2001 - 1000 AS wm
      FROM words WHERE length(w) > 0
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_terms, SUM(wm) AS margin_milli
      FROM scored GROUP BY 1
    ),
    -- margin is a grid QUOTIENT: round it half-away-from-zero on exact
    -- BIGINTs (margin6 = 1e-6 units), never via ROUND(double) — the
    -- quotient lands exactly on the 6th-decimal half-grid whenever
    -- n_terms' factors cancel the grid (n_terms = 16, 32, ...), and
    -- double tie-breaks diverge between Spark and DuckDB.
    gridded AS (
      SELECT doc_id, n_terms, margin_milli,
             (CASE WHEN margin_milli < 0 THEN -1 ELSE 1 END)
               * ((abs(margin_milli) * 2000000 + n_terms * 1000)
                  // (n_terms * 2000)) AS margin6
      FROM per_doc
    )
    SELECT doc_id, n_terms,
           CAST(margin6 AS DOUBLE) / 1000000.0 AS margin,
           {ratio_round_sql("1000000 + abs(margin6) + margin6",
                            "2 * (1000000 + abs(margin6))", 4)}
             AS clf_prob,
           margin_milli >= 0 AS keep
    FROM gridded
    """,
    doc="Hashed linear quality classifier [ext/text, fastText-shape]: "
    "softsign squashing of mean hashed-bucket weight per doc - an "
    "EXACT integer ratio of the exact margin (the logistic is "
    "ulp-fragile by construction: its slope-1/4 linearization maps the "
    "margin grid onto every decimal half-grid, r8 libm-audit catch at "
    "sf0.1). Weights are a deterministic expression stub (trained "
    "model = broadcast weight table, same plan); margin summed as "
    "exact integer millis, keep decided on the integer sign.",
)(lambda spark, sf: _text.quality_classifier(_t(spark, sf, "documents")))


_register(
    "text_bm25_topk",
    f"""
    WITH words AS (
      SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS w
      FROM documents
    ),
    wf AS (SELECT doc_id, w FROM words WHERE length(w) > 0),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM wf GROUP BY 1),
    tf AS (
      SELECT doc_id, w, COUNT(*) AS tf FROM wf
      WHERE w IN ('spark', 'join', 'vector') GROUP BY 1, 2
    ),
    dfreq AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl FROM dl),
    contrib AS (
      SELECT tf.doc_id,
             CAST(ROUND(
               ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
               * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75
                   + 0.75 * dl / (sum_dl / CAST(n_docs AS DOUBLE)))), 6)
               AS DECIMAL(18, 6)) AS c
      FROM tf JOIN dfreq USING (w) JOIN dl USING (doc_id) CROSS JOIN tot
    )
    SELECT doc_id, CAST(ROUND(SUM(c), 4) AS DOUBLE) AS bm25
    FROM contrib GROUP BY 1
    ORDER BY bm25 DESC, doc_id LIMIT {_text.BM25_K}
    """,
    doc="BM25 top-k retrieval [ext/text]: Okapi BM25 (k1=1.2, b=0.75) "
    "against query {spark, join, vector}, top 20 by (score DESC, "
    "doc_id). tf filtered to query terms pre-shuffle; df + totals "
    "broadcast; TakeOrderedAndProject top-k. 6-decimal-grid DECIMAL "
    "contributions.",
)(lambda spark, sf: _text.bm25_topk(_t(spark, sf, "documents")))


_register(
    "dedup_group_representatives",
    f"""
    WITH m AS (
      SELECT doc_id, md5({_NORM_SQL}) AS fingerprint,
             CASE WHEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) > 0
                  THEN CAST(length(regexp_replace(text, '[^a-z]', '', 'g'))
                            AS DOUBLE)
                       / length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  ELSE 0.0 END AS q
      FROM documents
    ), r AS (
      SELECT fingerprint, doc_id, q,
             ROW_NUMBER() OVER (PARTITION BY fingerprint
                                ORDER BY q DESC, doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY fingerprint) AS n_copies
      FROM m
    )
    SELECT fingerprint, doc_id AS keep_doc_id, n_copies,
           ROUND(q, 4) AS lc_ratio
    FROM r WHERE rn = 1
    """,
    doc="Casing-aware dedup representatives [ext/dedup]: per "
    "exact-duplicate group (normalized-text md5), keep the copy with "
    "the highest RAW-text lowercase-letter ratio (copies differ only "
    "in case/whitespace, so any normalized-text score is constant "
    "across the group), tie-break min doc_id. Agg-only argmax "
    "(max-of-struct), one shuffle, no window — the oracle replays it "
    "as ROW_NUMBER proving the argmax.",
)(lambda spark, sf: _text.best_copy_per_group(_t(spark, sf, "documents")))


def _incremental_dedup_builder(spark, sf):
    docs = _t(spark, sf, "documents")
    b = _sampling.hash_bucket(F.col("doc_id"), "incr")
    return _dedup.incremental_dedup(
        docs.filter(b >= 1000), docs.filter(b < 1000)
    )


_register(
    "dedup_incremental_batch",
    f"""
    WITH norm0 AS (
      SELECT doc_id, {_NORM_SQL} AS t,
             CASE WHEN ('0x' || substr(md5('incr:' || doc_id::VARCHAR), 1, 7))::BIGINT
                       % 10000 < 1000
                  THEN 1 ELSE 0 END AS is_new
      FROM documents
    ),
    norm AS (SELECT doc_id, t FROM norm0),
    grams AS ({_gram_sql(_MH_N)}),
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(sh), 1, 7))::BIGINT AS x1,
             ('0x' || substr(md5(sh), 8, 7))::BIGINT AS x2
      FROM grams
    ),
    sig AS (
      SELECT doc_id,
             {_MH_SIG_AGGS}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, u.band_id AS band_id, u.band_hash AS band_hash
      FROM (SELECT doc_id, unnest([
            {_MH_BANDS}
        ]) AS u FROM sig)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN norm0 fa ON fa.doc_id = a.doc_id AND fa.is_new = 0
      JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
      JOIN norm0 fb ON fb.doc_id = b.doc_id AND fb.is_new = 1
    ),
    shd AS (SELECT DISTINCT doc_id, sh FROM grams),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shd GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      FROM cand c
      JOIN shd a ON a.doc_id = c.doc_a
      JOIN shd b ON b.doc_id = c.doc_b AND a.sh = b.sh
      GROUP BY 1, 2
    ),
    near AS (
      SELECT DISTINCT doc_b AS doc_id FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.6
    ),
    fps AS (SELECT doc_id, md5(t) AS fp, is_new FROM norm0),
    exact AS (
      SELECT DISTINCT b.doc_id FROM fps b
      JOIN fps c ON c.fp = b.fp AND c.is_new = 0
      WHERE b.is_new = 1
    )
    SELECT f.doc_id,
           e.doc_id IS NOT NULL AS is_exact_dup,
           nr.doc_id IS NOT NULL AS is_near_dup,
           (e.doc_id IS NULL AND nr.doc_id IS NULL) AS keep
    FROM fps f
    LEFT JOIN exact e ON e.doc_id = f.doc_id
    LEFT JOIN near nr ON nr.doc_id = f.doc_id
    WHERE f.is_new = 1
    """,
    doc="Incremental batch dedup [ext/dedup]: screen a new 10%-hash batch "
    "against the remaining corpus — exact fingerprint anti-join plus "
    "directed MinHash-LSH candidates exact-verified at Jaccard 0.6. "
    "Per-batch-doc verdict (is_exact_dup, is_near_dup, keep); the "
    "corpus band table is the persisted index in production. Same "
    "portable md5 hash family as dedup_minhash_lsh, so the oracle "
    "replays candidate generation exactly.",
)(_incremental_dedup_builder)


_RDS_N = 5
_RDS_GRAM = " || ' ' || ".join(f"w[i+{d}]" if d else "w[i]" for d in range(_RDS_N))

_register(
    "text_remove_dup_spans",
    f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w FROM documents
    ),
    words AS (
      SELECT doc_id, i AS j, w[i] AS word
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i
            FROM norm)
    ),
    spans AS (
      SELECT doc_id, i, {_RDS_GRAM} AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - {_RDS_N - 1})) AS i
            FROM norm WHERE len(w) >= {_RDS_N})
    ),
    dd AS (SELECT DISTINCT doc_id, sh FROM spans),
    dupds AS (
      SELECT doc_id, sh FROM (
        SELECT doc_id, sh, COUNT(*) OVER (PARTITION BY sh) AS df FROM dd
      ) WHERE df > 1
    ),
    covered AS (
      SELECT DISTINCT s.doc_id, s.i + d AS j
      FROM (SELECT spans.*, unnest(generate_series(0, {_RDS_N - 1})) AS d
            FROM spans) s
      JOIN dupds ON dupds.doc_id = s.doc_id AND dupds.sh = s.sh
    ),
    kept AS (
      SELECT w.doc_id, w.j, w.word
      FROM words w LEFT JOIN covered c ON c.doc_id = w.doc_id AND c.j = w.j
      WHERE c.j IS NULL
    ),
    asm AS (
      SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(word, ' ' ORDER BY j) AS cleaned_text
      FROM kept GROUP BY 1
    ),
    spine AS (SELECT doc_id, COUNT(*) AS n_words FROM words GROUP BY 1)
    SELECT s.doc_id, s.n_words,
           CAST(s.n_words - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.cleaned_text, '') AS cleaned_text
    FROM spine s LEFT JOIN asm a USING (doc_id)
    """,
    doc="Duplicated-span REMOVAL [ext/text, arXiv:2107.06499]: cut every "
    "word covered by a 5-gram span appearing in >= 2 docs; output the "
    "cleaned text in word order. Transform twin of text_span_dup_profile "
    "— docfreq via one COUNT window, covered positions explode only from "
    "duplicated span starts, assembly = anti-join + ordered concat. "
    "Pure string/int ops, no floats to grid.",
)(lambda spark, sf: _text.remove_dup_spans(_t(spark, sf, "documents")))


def _corpus_refresh_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end snapshot-refresh funnel over the round-5 operators:
    screen the new batch against the corpus (incremental dedup), drop
    classifier-rejected docs, attach DSIR importance weights for the
    final sampling stage. One DAG — the dedup verdict, classifier margin,
    and DSIR model all branch from the same documents scan."""
    docs = _t(spark, sf, "documents")
    b = _sampling.hash_bucket(F.col("doc_id"), "incr")
    corpus, batch = docs.filter(b >= 1000), docs.filter(b < 1000)
    survivors = (
        _dedup.incremental_dedup(corpus, batch)
        .filter(F.col("keep"))
        .select("doc_id")
    )
    clf_ok = (
        _text.quality_classifier(batch)
        .filter(F.col("keep"))
        .select("doc_id", "clf_prob")
    )
    weights = _sampling.dsir_importance_weights(
        docs, target=F.col("lang") == "en", score_docs=batch
    ).select("doc_id", "log_weight")
    return survivors.join(clf_ok, "doc_id").join(weights, "doc_id")


_register(
    "corpus_refresh_pipeline",
    f"""
    WITH incr AS ({REGISTRY["dedup_incremental_batch"].oracle}),
         clf AS ({REGISTRY["text_quality_classifier"].oracle}),
         dsir AS ({REGISTRY["dataset_dsir_weights"].oracle})
    SELECT incr.doc_id, clf.clf_prob, dsir.log_weight
    FROM incr
    JOIN clf USING (doc_id)
    JOIN dsir USING (doc_id)
    WHERE incr.keep AND clf.keep
    """,
    doc="Corpus snapshot-refresh funnel [ext/pipeline]: incremental-dedup "
    "screen of the 10%-hash batch -> hashed-classifier quality gate -> "
    "DSIR importance weights on the survivors. Composition of three "
    "round-5 operators in one DAG; the oracle nests their three exact "
    "SQL twins as CTEs, so the funnel is replayed end-to-end.",
)(_corpus_refresh_pipeline)


_register(
    "embedding_label_centroids",
    f"""
    WITH comps AS (
      SELECT label, i AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE), 6) AS DECIMAL(24, 6))
               AS g,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                        * CAST(embedding[i] AS DOUBLE), 6)
                  AS DECIMAL(24, 6)) AS g2
      FROM (SELECT label, embedding,
                   unnest(generate_series(1, len(embedding))) AS i
            FROM embeddings)
    ),
    agg AS (
      SELECT label, dim, COUNT(*) AS n,
             CAST(SUM(g) * 1000000 AS HUGEINT) AS su,
             CAST(SUM(g2) * 1000000 AS HUGEINT) AS s2u
      FROM comps GROUP BY 1, 2
    )
    SELECT label, CAST(dim AS INT) AS dim, n,
           {ratio_round_sql("su", "n * 1000000", 4)} AS centroid,
           {ratio_round_sql("n * s2u * 1000000 - su * su",
                            "n * n * 1000000000000", 4)} AS variance
    FROM agg
    """,
    doc="Per-label embedding centroids + per-dim variance [ext/similarity]: "
    "class-prototype statistics for dataset auditing (one row per "
    "label x dim). 6-decimal-grid DECIMAL moments summed as exact "
    "1e-6-unit integers; mean and variance round as exact integer ratios "
    "(numeric.ratio_round — both are grid quotients). One posexplode + "
    "one map-side-combined groupBy, output |labels|*D rows at any corpus "
    "scale.",
)(lambda spark, sf: _sim.label_centroids(_t(spark, sf, "embeddings")))


#: Shared CTE chain of the token-budget mixing oracle — reused by
#: `dataset_mixing_epochs` and the epoch-plan materialization
#: `dataset_epoch_plan`.
_MIXING_CTES = f"""
    d AS (SELECT source, len(string_split({_NORM_SQL}, ' ')) AS toks
               FROM documents),
    c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(toks) AS BIGINT) AS tokens
          FROM d GROUP BY 1),
    u AS (SELECT *, CAST(ROUND(sqrt(tokens), 4) * 10000 AS BIGINT) AS pu
          FROM c),
    t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total_tokens,
                 CAST(SUM(pu) AS BIGINT) AS tpu
          FROM u),
    w AS (SELECT source, n_docs, tokens, pu, total_tokens, tpu,
                 CAST({ratio_round_sql("pu * total_tokens * 3", "tpu", 0)}
                      AS BIGINT) AS target_tokens
          FROM u, t),
    e AS (SELECT *,
                 LEAST(CAST({ratio_round_sql("target_tokens * 10000",
                                             "tokens", 0)} AS BIGINT),
                       30000) AS capped_u
          FROM w)
"""

_register(
    "dataset_mixing_epochs",
    f"""
    WITH {_MIXING_CTES}
    SELECT source, n_docs, tokens,
           {ratio_round_sql("tokens", "total_tokens", 4)} AS token_share,
           {ratio_round_sql("pu", "tpu", 4)} AS w_temp,
           target_tokens,
           CAST(capped_u AS DOUBLE) / 10000.0 AS epochs,
           CAST({ratio_round_sql("capped_u * tokens", "10000", 0)} AS BIGINT)
             AS effective_tokens
    FROM e
    """,
    doc="Token-budget corpus mixing [ext/sampling]: allocate a training "
    "budget of 3x total tokens across sources by w ~ sqrt(tokens) "
    "temperature weights, convert to per-source repeat epochs capped at "
    "3.0 (hard data-repetition limit; binds for below-average-share "
    "sources, whose sqrt boost exceeds the budget multiplier). sqrt can "
    "never land on the "
    "half-grid for integer input (odd^2 is not divisible by 4), all "
    "other outputs round as exact integer ratios (numeric.ratio_round, "
    "scale 0/4). One map-side-combined groupBy(source), |strata| output "
    "rows at any corpus scale.",
)(
    lambda spark, sf: _sampling.mixing_epochs(_t(spark, sf, "documents"))
)



#: DuckDB replay of the scalar int8 quantization — shared by the
#: quantize oracle and (as CTEs) the PQ oracle. Every arithmetic step is
#: the same single IEEE double op the Spark/numpy side runs (see
#: operators/quantize.py module docstring), so floor() agrees exactly.
_QUANT_CTES = """
    comps AS (
      SELECT vec_id, dim, CAST(embedding[dim] AS DOUBLE) AS x
      FROM (SELECT vec_id, embedding,
                   unnest(generate_series(1, len(embedding))) AS dim
            FROM embeddings)
    ),
    stats AS (SELECT dim, MIN(x) AS mn, MAX(x) AS mx FROM comps GROUP BY 1),
    qcodes AS (
      SELECT vec_id, c.dim,
             CAST(CASE WHEN mx > mn
                       THEN LEAST(255.0, GREATEST(0.0,
                              FLOOR((x - mn) * 255.0 / (mx - mn))))
                       ELSE 0.0 END AS INT) AS code
      FROM comps c JOIN stats s USING (dim)
    )
"""

_register(
    "embedding_quantize_int8",
    f"""
    WITH {_QUANT_CTES}
    SELECT vec_id, array_to_string(list(code ORDER BY dim), ' ') AS codes
    FROM qcodes GROUP BY 1
    """,
    doc="Scalar int8 quantization of the embedding column [ext/similarity]: "
    "per-dim min/max (one map-side-combined posexplode aggregate, D "
    "rows) broadcast into an Arrow mapInPandas map stage — vectorized "
    "numpy, zero data-sized shuffles (the SQL-only alternative would "
    "shuffle the corpus to re-assemble arrays). floor((x-mn)*255/(mx-mn)) "
    "is bit-identical cross-engine: float32-exact doubles through "
    "identical single IEEE ops, no half-grid rounding anywhere. The "
    "registered projection joins the code vector into a ' '-separated "
    "string (the driver's canonicalizer cannot hash list cells — the "
    "multimodal_features pattern; r6 red row).",
)(
    lambda spark, sf: _quant.quantize_embeddings(
        _t(spark, sf, "embeddings")
    ).withColumn(
        "codes", F.array_join(F.col("codes").cast("array<string>"), " ")
    )
)


#: Dimensions per PQ sub-block of the 64-dim embeddings.
_PQ_SUB_DIMS = 64 // _quant.PQ_SUBSPACES

#: DuckDB replay of the PQ codebook + per-(vec, subspace) assignment —
#: shared by `embedding_pq_codes` and the ADC search `similarity_topk_pq`.
_PQ_ASSIGN_CTES = f"""
    anchors AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS j
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_quant.PQ_CENTROIDS}
    ),
    cb AS (SELECT a.j, q.dim, q.code
           FROM anchors a JOIN qcodes q ON q.vec_id = a.vec_id),
    dist AS (
      SELECT q.vec_id, (q.dim - 1) // {_PQ_SUB_DIMS} AS m, b.j,
             SUM(CAST((q.code - b.code) * (q.code - b.code) AS BIGINT)) AS d2
      FROM qcodes q JOIN cb b ON b.dim = q.dim
      GROUP BY 1, 2, 3
    ),
    best AS (
      SELECT vec_id, m, CAST(j AS INT) AS j, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                ORDER BY d2, j) AS rn
      FROM dist
    )
"""

_register(
    "embedding_pq_codes",
    f"""
    WITH {_QUANT_CTES},
    {_PQ_ASSIGN_CTES}
    SELECT vec_id, array_to_string(list(j ORDER BY m), ' ') AS pq_codes,
           CAST(SUM(d2) AS BIGINT) AS distortion
    FROM best WHERE rn = 1 GROUP BY 1
    """,
    doc="Product-quantization codes [ext/similarity]: 8 subspaces x 16 "
    "centroids over the int8-quantized corpus (Jegou et al. 2011, the "
    "memory ladder of a billion-vector ANN index — 32x compression). "
    "Codebook = the 16 lowest-md5 anchor vectors (deterministic, "
    "SQL-replayable; a trained per-subspace k-means slots into the same "
    "plan). Assignment distances are EXACT integer sums of squared code "
    "differences — order-independent, tie -> smallest centroid index on "
    "both engines. Plan: two Arrow map stages + a D-row stats aggregate "
    "+ a map-side top-k anchor probe; zero data-sized shuffles. Code "
    "vector joined to a ' '-separated string for the driver hash "
    "(multimodal_features pattern; r6 red row).",
)(
    lambda spark, sf: _quant.pq_codes(_t(spark, sf, "embeddings")).withColumn(
        "pq_codes", F.array_join(F.col("pq_codes").cast("array<string>"), " ")
    )
)


_register(
    "similarity_topk_pq",
    f"""
    WITH {_QUANT_CTES},
    {_PQ_ASSIGN_CTES},
    docpq AS (SELECT vec_id, m, j FROM best WHERE rn = 1),
    adc AS (
      SELECT qc.vec_id AS query_id, (qc.dim - 1) // {_PQ_SUB_DIMS} AS m, b.j,
             SUM(CAST((qc.code - b.code) * (qc.code - b.code) AS BIGINT)) AS t
      FROM qcodes qc JOIN cb b ON b.dim = qc.dim
      WHERE qc.vec_id < 10
      GROUP BY 1, 2, 3
    ),
    scores AS (
      SELECT a.query_id, p.vec_id AS neighbor_id,
             CAST(SUM(a.t) AS BIGINT) AS dist
      FROM docpq p JOIN adc a ON a.m = p.m AND a.j = p.j
      WHERE p.vec_id <> a.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, dist, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
          FROM scores)
    WHERE rnk <= 5
    """,
    doc="PQ asymmetric-distance top-5 for 10 query vectors "
    "[ext/similarity]: the search half of the PQ ladder — per query an "
    "8x16 table of exact integer sub-distances, per document 8 table "
    "lookups on its byte code (how a billion-vector index scores from "
    "cache, Jegou et al. 2011). No floats anywhere: integer distances, "
    "neighbor_id tie-break, fully oracle-replayed (codebook, "
    "assignment, ADC tables, ranking). Partial aggregation collapses "
    "doc sub-scores to |q| rows per doc before the one shuffle.",
)(
    lambda spark, sf: _quant.pq_topk(_t(spark, sf, "embeddings"), F.col("vec_id") < 10)
)


_register(
    "similarity_topk_ivfpq",
    f"""
    WITH {_QUANT_CTES},
    {_PQ_ASSIGN_CTES},
    docpq AS (SELECT vec_id, m, j FROM best WHERE rn = 1),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    cent AS (SELECT vec_id AS centroid_id, emb AS c_emb FROM e
             WHERE vec_id % {_sim.IVF_CENTROID_MODULUS} = 0),
    cells AS (
      SELECT vec_id, centroid_id
      FROM (SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {_COS_SQL.format(a="e.emb", b="c.c_emb")} DESC,
                              c.centroid_id) AS rn2
            FROM e, cent c)
      WHERE rn2 = 1
    ),
    probes AS (
      SELECT query_id, centroid_id AS q_centroid
      FROM (SELECT q.vec_id AS query_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY {_COS_SQL.format(a="q.emb", b="c.c_emb")} DESC,
                              c.centroid_id) AS pr
            FROM e q, cent c WHERE q.vec_id < 10)
      WHERE pr <= {_quant.IVFPQ_NPROBE}
    ),
    adc AS (
      SELECT qc.vec_id AS query_id, (qc.dim - 1) // {_PQ_SUB_DIMS} AS m, b.j,
             SUM(CAST((qc.code - b.code) * (qc.code - b.code) AS BIGINT)) AS t
      FROM qcodes qc JOIN cb b ON b.dim = qc.dim
      WHERE qc.vec_id < 10 GROUP BY 1, 2, 3
    ),
    scores AS (
      SELECT a.query_id, p.vec_id AS neighbor_id,
             CAST(SUM(a.t) AS BIGINT) AS dist
      FROM docpq p
      JOIN cells cl ON cl.vec_id = p.vec_id
      JOIN probes pr ON pr.q_centroid = cl.centroid_id
      JOIN adc a ON a.query_id = pr.query_id AND a.m = p.m AND a.j = p.j
      WHERE p.vec_id <> a.query_id
      GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, dist, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
          FROM scores)
    WHERE rnk <= 5
    """,
    doc="IVF+PQ top-5 (IVFADC, Jegou et al. 2011 SS-V) [ext/similarity]: "
    "the composed production index — nprobe=2 coarse cells bound the "
    "candidate set (per-query work ~ nprobe x cell size, not corpus "
    "size), PQ byte codes + integer ADC tables score the candidates "
    "(no per-pair float math). Cell/probe selection reuses the proven "
    "bit-identical cosine form; everything downstream is exact integer. "
    "The (cell, code) join is the index build — persisted in production, "
    "amortized across query batches.",
)(
    lambda spark, sf: _quant.ivfpq_topk(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10
    )
)


_register(
    "user_retention_cohorts",
    f"""
    WITH ev AS (SELECT user_id AS u,
                       CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d
                FROM events),
    firstseen AS (SELECT u, MIN(d) AS cohort_ts FROM ev GROUP BY 1),
    sizes AS (SELECT cohort_ts, COUNT(*) AS cohort_users
              FROM firstseen GROUP BY 1),
    act AS (
      SELECT f.cohort_ts,
             CAST((e.d - f.cohort_ts) // 86400 AS INT) AS offset_d,
             COUNT(DISTINCT e.u) AS active_users
      FROM ev e JOIN firstseen f ON f.u = e.u
      GROUP BY 1, 2
    )
    SELECT a.cohort_ts, a.offset_d, a.active_users, s.cohort_users,
           {ratio_round_sql("a.active_users", "s.cohort_users", 4)}
             AS retention
    FROM act a JOIN sizes s USING (cohort_ts)
    """,
    doc="Daily retention cohorts [analytics]: users grouped by first-seen "
    "day, distinct-active counts per day offset, retention as an exact "
    "integer ratio. One user-dim agg + one events-dim equi-join + one "
    "two-key count-distinct; cohort sizes from the user-dim table (the "
    "events-sized subplan has one consumer). Output bounded by days^2.",
)(lambda spark, sf: _rel.retention_cohorts(_t(spark, sf, "events")))


_register(
    "corpus_vocab_stats",
    f"""
    WITH words AS (
      SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS w
      FROM documents
    ),
    wc AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM words GROUP BY 1, 2),
    agg AS (
      SELECT source, CAST(SUM(cnt) AS BIGINT) AS total_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS hapax
      FROM wc GROUP BY 1
    )
    SELECT source, total_tokens, vocab, hapax,
           {ratio_round_sql("vocab", "total_tokens", 4)} AS ttr,
           {ratio_round_sql("hapax", "vocab", 4)} AS hapax_frac
    FROM agg
    """,
    doc="Per-source vocabulary stats [ext/text]: total tokens, vocab size, "
    "hapax count, type-token ratio, hapax fraction — the lexical-"
    "diversity block of a dataset card (low TTR = boilerplate, high "
    "hapax = noise). Word counts shuffle vocabulary-bounded partials "
    "(map-side combine), second agg is dimension-sized; ratios are "
    "exact integer quotients.",
)(lambda spark, sf: _text.vocab_stats(_t(spark, sf, "documents")))


_register(
    "basket_brand_affinity",
    f"""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand AS item
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM lineitem),
    ic AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
           FROM items GROUP BY 1),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM items a JOIN items b ON a.l_orderkey = b.l_orderkey
                                AND a.item < b.item
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_rel.BASKET_MIN_SUPPORT}
    )
    SELECT item_a, item_b, n_ab, ca.n_item AS n_a, cb.n_item AS n_b,
           {ratio_round_sql("n_ab", "n_orders", 4)} AS support,
           {ratio_round_sql("n_ab * n_orders", "ca.n_item * cb.n_item", 4)}
             AS lift
    FROM pairs
    JOIN ic ca ON ca.item = item_a
    JOIN ic cb ON cb.item = item_b
    CROSS JOIN n
    """,
    doc="Market-basket brand affinity [analytics]: support and lift for "
    "brand pairs co-occurring in an order. Broadcast part dim into the "
    "lineitem scan, per-order pair join bounded by basket size squared "
    "(ReuseExchange ships one shuffle for both self-join sides), lift "
    "as ONE exact integer ratio N*n_ab/(n_a*n_b) — no float "
    "probabilities. Output <= |brands|^2 pairs.",
)(
    lambda spark, sf: _rel.basket_affinity(
        _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    )
)


_register(
    "dedup_cross_source_matrix",
    f"""
    WITH fp AS (
      SELECT DISTINCT md5(substr({_NORM_SQL}, 1, 40)) AS fp, source
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS shared_texts
    FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2
    """,
    doc="Cross-source duplicate-leakage matrix [ext/dedup]: distinct "
    "40-char-prefix fingerprints shared by each source pair (same key "
    "as dedup_prefix_fingerprint) — catches one crawl "
    "re-ingesting another before mixing weights are assigned. Per-"
    "fingerprint join fan-out bounded by |sources|; one map-side-"
    "combined distinct + one pair aggregation; <= |sources|^2 output "
    "rows at any scale.",
)(lambda spark, sf: _dedup.cross_source_dup_matrix(_t(spark, sf, "documents")))


_register(
    "customer_rfm_segments",
    f"""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(CAST(o_orderdate AS DATE)) AS last_order,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             {cents_sql("SUM(o_totalprice)")} AS monetary_cents
      FROM orders GROUP BY 1
    ),
    mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS corpus_max FROM orders),
    scored AS (
      SELECT o_custkey,
             date_diff('day', last_order, corpus_max) AS recency_days,
             frequency, monetary_cents,
             CASE WHEN date_diff('day', last_order, corpus_max) <= 90 THEN 3
                  WHEN date_diff('day', last_order, corpus_max) <= 270 THEN 2
                  ELSE 1 END AS r_score,
             CASE WHEN frequency >= 12 THEN 3
                  WHEN frequency >= 9 THEN 2 ELSE 1 END AS f_score,
             CASE WHEN monetary_cents >= 280000000 THEN 3
                  WHEN monetary_cents >= 200000000 THEN 2 ELSE 1 END AS m_score
      FROM per_cust, mx
    )
    SELECT *, 100 * r_score + 10 * f_score + m_score AS rfm_score,
           CASE WHEN r_score = 3 AND f_score = 3 AND m_score = 3
                  THEN 'champion'
                WHEN f_score = 3 THEN 'loyal'
                WHEN m_score = 3 THEN 'big_spender'
                WHEN r_score = 1 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    doc="RFM customer segmentation [analytics]: recency/frequency/monetary "
    "scored 1-3 on fixed thresholds + composite score + named segment. "
    "Monetary compares on the exact cents grid (a float-sum threshold "
    "comparison could flip borderline customers between engines); one "
    "map-side-combined groupBy(customer) + a scalar max-date broadcast; "
    "customer-dimension output.",
)(lambda spark, sf: _rel.rfm_segments(_t(spark, sf, "orders")))


_register(
    "event_transition_matrix",
    f"""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n_pair
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    totals AS (SELECT event_type, CAST(SUM(n_pair) AS BIGINT) AS n_from
               FROM pairs GROUP BY 1)
    SELECT p.event_type, p.next_type, p.n_pair, t.n_from,
           {ratio_round_sql("p.n_pair", "t.n_from", 4)} AS p
    FROM pairs p JOIN totals t USING (event_type)
    """,
    doc="First-order Markov event-transition matrix [analytics]: per-user "
    "next-event pairs (event_id tie-break on equal timestamps), counts "
    "+ exact-ratio row probabilities. One user-partitioned window + one "
    "map-side-combined pair aggregation; row totals derive from the "
    "|types|^2 pair table (checkpointed, no second data pass). Output "
    "|event types|^2 at any scale.",
)(lambda spark, sf: _rel.event_transitions(_t(spark, sf, "events")))


_register(
    "hourly_anomaly_flags",
    f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_ts,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    stats AS (
      SELECT hour_ts, n_events,
             COUNT(*) OVER w AS tw,
             SUM(n_events) OVER w AS s,
             SUM(n_events * n_events) OVER w AS s2
      FROM hourly
      WINDOW w AS (ORDER BY hour_ts
                   RANGE BETWEEN 86400 PRECEDING AND 3600 PRECEDING)
    )
    SELECT hour_ts, n_events, tw AS trailing_hours,
           CASE WHEN tw > 0 THEN {ratio_round_sql("s", "tw", 4)} END
             AS trailing_mean,
           (tw >= 12 AND
            (n_events * tw - s) * (n_events * tw - s)
              > 4 * (tw * s2 - s * s)) AS spike
    FROM stats
    """,
    doc="Trailing-window hourly anomaly flags [analytics]: 2-sigma spike "
    "test vs the previous 24 hours, computed ENTIRELY in integer space "
    "((x*w-s)^2 > 4(w*s2-s^2)) so the flag cannot diverge between "
    "engines; trailing mean as an exact integer ratio; <12 trailing "
    "hours never flags. The corpus collapses to the |hours| dimension "
    "table before the one global RANGE window (dimension-sized input, "
    "never the data).",
)(lambda spark, sf: _rel.hourly_anomaly_flags(_t(spark, sf, "events")))


def _funnel_latency_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Click→conversion latency profile by hour of day: for each click
    with a purchase in the following hour, the latency to the FIRST
    purchase; exact p50/p90/p99 + exact-ratio mean per click hour.

    Latency is floored to integer SECONDS on both engines (the double
    division by 1e6 is correctly rounded, and integer-micros quotients
    sit ≥1e-6 from the floor boundary ≫ float error), so percentile
    interpolation lands on the 1/100-second grid — 100× coarser than the
    ROUND(.,4) grid, the price_percentiles safety argument.

    Scale: the banded interval join (hash-partitionable, never a range
    nested-loop), one per-click min (map-side combined), one 24-row
    percentile aggregate.
    """
    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.col("ts").alias("p_ts")
    )
    matched = _rel.bucketed_interval_join(
        clicks, purchases, "user_id", "ts", "ts", 3600, right_vals=["p_ts"]
    )
    lat_s = (
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("ts")))
        / F.lit(1_000_000)
    ).cast("long")
    lat = matched.groupBy(
        "event_id", F.hour(F.col("ts")).alias("click_hour")
    ).agg(F.min(lat_s).alias("latency_s"))
    return lat.groupBy("click_hour").agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("latency_s", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("latency_s", F.lit(0.9)), 4).alias("p90_s"),
        F.round(F.percentile("latency_s", F.lit(0.99)), 4).alias("p99_s"),
    )


_register(
    "funnel_latency_profile",
    """
    WITH pairs AS (
      SELECT c.event_id, hour(c.ts) AS click_hour,
             MIN((epoch_us(p.ts) - epoch_us(c.ts)) // 1000000) AS latency_s
      FROM (SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'click') c
      JOIN (SELECT user_id, ts FROM events
            WHERE event_type = 'purchase') p
        ON p.user_id = c.user_id AND p.ts >= c.ts
       AND p.ts < c.ts + INTERVAL 1 HOUR
      GROUP BY 1, 2
    )
    SELECT click_hour, CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(latency_s, 0.5), 4) AS p50_s,
           ROUND(quantile_cont(latency_s, 0.9), 4) AS p90_s,
           ROUND(quantile_cont(latency_s, 0.99), 4) AS p99_s
    FROM pairs GROUP BY 1
    """,
    doc="Click-to-conversion latency profile by hour of day [analytics]: "
    "per click with a purchase in the following hour, the latency to "
    "the FIRST purchase, floored to integer seconds on both engines; "
    "exact p50/p90/p99 per click hour (interpolation lands on the "
    "1/100-second grid, 100x coarser than the ROUND(.,4) grid — the "
    "price_percentiles safety argument). Banded interval join (never a "
    "range nested-loop) + per-click min (map-side combined) + a 24-row "
    "percentile aggregate.",
)(_funnel_latency_profile)


_register(
    "text_chunking",
    f"""
    WITH w AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
               FROM documents WHERE text IS NOT NULL),
    c AS (SELECT doc_id, words,
                 unnest(generate_series(0,
                   GREATEST(CAST(ceil(len(words) / 12.0) AS INT), 1) - 1))
                   AS chunk_idx
          FROM w)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(words[chunk_idx * 12 + 1 : chunk_idx * 12 + 16],
                           ' ') AS chunk_text,
           CAST(len(words[chunk_idx * 12 + 1 : chunk_idx * 12 + 16]) AS INT)
             AS n_tokens
    FROM c
    """,
    doc="Fixed-size token chunking with overlap [ext/text]: the context-"
    "window reshape before packing — chunk i covers words [i*12, "
    "i*12+16), last chunk short, every word in >=1 chunk. Pure builtin "
    "array expressions (split/sequence/posexplode/slice), explode "
    "proportional to the OUTPUT, zero shuffles — a per-row map at any "
    "corpus size.",
)(lambda spark, sf: _text.chunk_documents(_t(spark, sf, "documents")))


_register(
    "active_user_counts",
    """
    WITH ud AS (
      SELECT DISTINCT user_id AS u,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) AS d
      FROM events
    ),
    days AS (SELECT DISTINCT d AS eval_d FROM ud)
    SELECT eval_d AS day_ts,
           COUNT(DISTINCT CASE WHEN d = eval_d THEN u END) AS dau,
           COUNT(DISTINCT CASE WHEN d > eval_d - 604800 THEN u END) AS wau,
           COUNT(DISTINCT u) AS mau
    FROM ud JOIN days ON d <= eval_d AND d > eval_d - 2592000
    GROUP BY 1
    """,
    doc="Exact DAU/WAU/MAU per day [analytics]: corpus collapses to the "
    "distinct (day, user) table first (map-side combined), the tiny day "
    "dimension broadcasts into a <=30-day-fan range join, one "
    "aggregation with three conditional count-distincts. Work is "
    "30*|user-days|, linear in the corpus — no per-day rescans.",
)(lambda spark, sf: _rel.active_user_counts(_t(spark, sf, "events")))


_register(
    "dataset_epoch_plan",
    f"""
    WITH {_MIXING_CTES},
    plan AS (
      SELECT doc.doc_id, doc.source,
             CAST(e.capped_u // 10000 AS BIGINT)
             + CASE WHEN ('0x' || substr(md5('rep:' ||
                        CAST(doc.doc_id AS VARCHAR)), 1, 7))::BIGINT % 10000
                        < e.capped_u % 10000
                    THEN 1 ELSE 0 END AS n_rep
      FROM (SELECT doc_id, source FROM documents) doc
      JOIN e ON e.source = doc.source
    )
    SELECT doc_id, source, CAST(r AS INT) AS repeat_idx,
           md5('ord:' || CAST(r AS VARCHAR) || ':' ||
               CAST(doc_id AS VARCHAR)) AS order_key
    FROM plan, unnest(generate_series(0, CAST(n_rep AS INT) - 1)) AS t(r)
    """,
    doc="Epoch-plan materialization [ext/sampling]: one row per "
    "(document, repeat) from the mixing policy — fractional epochs "
    "become exact hash-bucket Bernoulli repeats (stable under growth), "
    "order_key = md5 gives a reproducible global shuffle consumers "
    "range-sort on. |strata| epochs table broadcasts into the scan, "
    "explode is output-proportional, zero shuffles.",
)(lambda spark, sf: _sampling.epoch_plan(_t(spark, sf, "documents")))


#: Exact cross-engine revenue term: price×(1−discount) lies ON the 1e-4
#: grid (2dp × 2dp), so rounding the double product to 4dp is tie-free
#: (ties live on the HALF-grid), and summing as DECIMAL(18,4) is exact
#: and order-independent — the grid-sum rule applied to a float product.
_REV_SQL = "CAST(ROUND(l_extendedprice * (1 - l_discount), 4) AS DECIMAL(18,4))"


def _rev_term():
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
    ).cast("decimal(18,4)")


def _shipping_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: unshipped revenue of BUILDING-segment orders.

    Plan: segment-filtered customer dim broadcasts into the orders scan
    (date filter pushed down); the one real shuffle is the
    orders⋈lineitem equi-join on orderkey + the per-order DECIMAL-sum
    aggregate; top-10 is TakeOrderedAndProject (map-side top-k, no
    global sort). Revenue ties rank by l_orderkey.
    """
    cutoff = F.lit("1998-06-15 00:00:00").cast("timestamp")
    cust = _t(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_ts"),
            "o_orderpriority",
        )
        .agg(F.sum(_rev_term()).alias("rev"))
        .select(
            "l_orderkey",
            F.col("rev").cast("double").alias("revenue"),
            "order_ts",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_register(
    "shipping_priority_topk",
    f"""
    SELECT l_orderkey,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           CAST(epoch(o_orderdate) AS BIGINT) AS order_ts,
           o_orderpriority
    FROM customer
    JOIN orders ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-15'
      AND l_shipdate > TIMESTAMP '1998-06-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape (shipping priority) [analytics]: top-10 unshipped "
    "BUILDING-segment orders by revenue. Broadcast segment dim, pushed "
    "date filters, one fact-fact equi-join shuffle, DECIMAL-grid "
    "revenue sums (product lies on the 1e-4 grid -> tie-free round, "
    "order-independent sum), TakeOrderedAndProject top-k.",
)(_shipping_priority)


def _returned_item_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returned items per customer over
    one quarter; top-20 customers. Same plan family as Q3 plus the
    nation dim broadcast."""
    lo = F.lit("1997-07-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-10-01 00:00:00").cast("timestamp")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
    cust = _t(spark, sf, "customer")
    nat = _t(spark, sf, "nation")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(_rev_term()).alias("rev"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.col("rev").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


_register(
    "returned_item_revenue",
    f"""
    SELECT c_custkey, c_name, n_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation ON n_nationkey = c_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-07-01'
      AND o_orderdate < TIMESTAMP '1997-10-01'
      AND l_returnflag = 'R'
    GROUP BY 1, 2, 3
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape (returned-item revenue) [analytics]: top-20 "
    "customers by revenue lost to returns in one quarter. Broadcast "
    "customer + nation dims, pushed quarter/returnflag filters, one "
    "fact-fact shuffle, DECIMAL-grid revenue, TakeOrderedAndProject.",
)(_returned_item_revenue)


def _local_supplier_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: revenue shipped by suppliers LOCAL to the
    customer's nation, per ASIA nation over one year — the full
    star-schema join (region→nation→customer + supplier), with the
    locality predicate (c_nationkey = s_nationkey) riding the join.

    Plan: region/nation/customer/supplier all broadcast (dimension
    tables at any scale); the one shuffle is orders⋈lineitem; revenue
    uses the DECIMAL-grid product sum (_REV_SQL). Nation ties cannot
    occur (grouped by name), ordering left to the driver's canonical
    sort."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    asia_nat = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    cust = _t(spark, sf, "customer").join(
        F.broadcast(asia_nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey", "c_nationkey", "n_name")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    orders = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf, "lineitem")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_rev_term()).alias("rev"))
        .select("n_name", F.col("rev").cast("double").alias("revenue"))
    )


_register(
    "local_supplier_volume",
    f"""
    SELECT n_name, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM orders
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
    doc="TPC-H Q5 shape (local supplier volume) [analytics]: the full "
    "star join — region->nation->customer and supplier all broadcast, "
    "locality predicate c_nationkey = s_nationkey rides the supplier "
    "join, one orders-lineitem shuffle, DECIMAL-grid revenue. First "
    "registry consumer of the supplier table.",
)(_local_supplier_volume)


def _late_shipment_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: per order priority, how many orders have at least
    one lineitem shipped more than 60 days after the order date — an
    EXISTS (leftsemi) with a cross-table inequality riding the equi-join.

    Plan: the semi join keeps the orders side unduplicated (no distinct
    needed, no fan-out however many lineitems match), shuffles both
    facts once on orderkey with the date inequality evaluated inside the
    join, then one map-side-combined count per priority. Priority-
    dimension output at any scale.
    """
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ),
        "leftsemi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_late_orders")
    )


_register(
    "late_shipment_orders",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_late_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
    doc="TPC-H Q4 shape (order priority checking) [analytics]: EXISTS "
    "semi-join with a cross-table date inequality riding the orderkey "
    "equi-join — no fan-out, no distinct; one fact-fact shuffle + a "
    "priority-dimension count.",
)(_late_shipment_orders)


_register(
    "user_burst_flags",
    f"""
    WITH pm AS (
      SELECT user_id AS u,
             CAST(epoch(date_trunc('minute', ts)) AS BIGINT) AS m,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    )
    SELECT u AS user_id,
           MAX(cnt) AS peak_minute_events,
           CAST(SUM(cnt) AS BIGINT) AS total_events,
           CAST(COUNT(*) AS BIGINT) AS active_minutes,
           MAX(cnt) >= {_rel.BURST_THRESHOLD} AS burst_flag
    FROM pm GROUP BY 1
    """,
    doc="Bot/burst detection [analytics+curation]: per user, the busiest "
    "minute, total volume, active minutes, and an integer-threshold "
    "burst flag — the behavioral-data spam filter. Two map-side-"
    "combined aggregations, no windows, user-dimension output.",
)(lambda spark, sf: _rel.burst_user_flags(_t(spark, sf, "events")))


_register(
    "lang_confusion_matrix",
    f"""
    WITH {_LANG_S_CTE},
    joined AS (SELECT lang, {_LANG_CASE} AS pred_lang FROM s),
    counts AS (SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
               FROM joined GROUP BY 1, 2),
    tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_lang
            FROM counts GROUP BY 1)
    SELECT c.lang, c.pred_lang, c.n, t.n_lang,
           {ratio_round_sql("c.n", "t.n_lang", 4)} AS share
    FROM counts c JOIN tot t USING (lang)
    """,
    doc="Language-ID confusion matrix [ext/text]: declared lang vs the "
    "marker-heuristic prediction with per-declared-lang row shares — "
    "the audit run before a language filter gates a corpus. Per-row "
    "prediction + one two-key map-side-combined count; shares are exact "
    "integer ratios over the checkpointed |langs|^2 table.",
)(lambda spark, sf: _text.lang_confusion(_t(spark, sf, "documents")))


_register(
    "events_weekday_hour_heatmap",
    """
    SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
    doc="Weekday x hour activity heatmap [analytics]: the seasonality "
    "grid every ops dashboard draws (dow 0=Sunday matching DuckDB; "
    "Spark's 1-based dayofweek shifts by one). One map-side-combined "
    "two-key aggregate, 168-row output at any scale; value sums follow "
    "the hourly_series ROUND(SUM,4) precedent.",
)(
    lambda spark, sf: _t(spark, sf, "events")
    .groupBy(
        (F.dayofweek(F.col("ts")) - 1).alias("dow"),
        F.hour(F.col("ts")).alias("hod"),
    )
    .agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
)


def _orders_open_backlog(spark: SparkSession, sf: str) -> DataFrame:
    """Open-order backlog over time by SWEEP-LINE: each order contributes
    +1 on its order day and −1 on its last ship day, and the running sum
    over the day dimension is the number of orders open (placed, not yet
    fully shipped) at each day's close.

    This is THE scale shape for interval-concurrency questions: the
    naive form (per day, count orders whose interval covers it) is a
    |days|×|orders| range join; the sweep-line collapses the fact table
    to ±1 deltas (one orders⋈lineitem-max shuffle), aggregates them to
    the |days| dimension map-side, and runs ONE dimension-sized
    cumulative window. Orders fully shipped the day they are placed net
    to zero, exactly as the naive count would.
    """
    day = lambda c: F.unix_timestamp(F.date_trunc("day", c))  # noqa: E731
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    ship_end = (
        _t(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    spans = orders.join(
        ship_end, F.col("o_orderkey") == F.col("l_orderkey")
    ).select(
        day(F.col("o_orderdate")).alias("start_d"),
        # The synthetic fixture has ship dates before order dates for
        # ~20% of orders (no causal tie) — clamp, as a real pipeline
        # would: an order cannot close before it opens.
        F.greatest(
            day(F.col("o_orderdate")), day(F.col("last_ship"))
        ).alias("end_d"),
    )
    deltas = (
        spans.select(F.col("start_d").alias("day_ts"), F.lit(1).alias("delta"))
        .unionByName(
            spans.select(F.col("end_d").alias("day_ts"), F.lit(-1).alias("delta"))
        )
        .groupBy("day_ts")
        .agg(F.sum("delta").alias("net_delta"))
    )
    from pyspark.sql import Window

    w = Window.orderBy("day_ts").rowsBetween(Window.unboundedPreceding, 0)
    return deltas.select(
        "day_ts",
        "net_delta",
        F.sum("net_delta").over(w).alias("open_orders"),
    )


_register(
    "orders_open_backlog",
    """
    WITH spans AS (
      SELECT CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT) AS start_d,
             GREATEST(CAST(epoch(date_trunc('day', o_orderdate)) AS BIGINT),
                      CAST(epoch(date_trunc('day', ls)) AS BIGINT)) AS end_d
      FROM orders
      JOIN (SELECT l_orderkey, MAX(l_shipdate) AS ls
            FROM lineitem GROUP BY 1) l ON l_orderkey = o_orderkey
    ),
    deltas AS (
      SELECT day_ts, CAST(SUM(delta) AS BIGINT) AS net_delta
      FROM (SELECT start_d AS day_ts, 1 AS delta FROM spans
            UNION ALL
            SELECT end_d AS day_ts, -1 AS delta FROM spans)
      GROUP BY 1
    )
    SELECT day_ts, net_delta,
           CAST(SUM(net_delta) OVER (ORDER BY day_ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS open_orders
    FROM deltas
    """,
    doc="Open-order backlog by sweep-line [analytics]: +1 on order day, "
    "-1 on last ship day, running sum over the |days| dimension = "
    "orders open at each day's close. Collapses the naive "
    "|days|x|orders| range join to one fact shuffle + a dimension-sized "
    "cumulative window.",
)(_orders_open_backlog)


_register(
    "dedup_lsh_quality",
    f"""
    WITH {_MH_PIPELINE_CTES},
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_verified FROM verified),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs
           FROM ({_NGRAM_PAIRS_SQL}))
    SELECT n_candidates, n_verified, n_true_pairs,
           CASE WHEN n_candidates > 0
                THEN {ratio_round_sql("n_verified", "n_candidates", 4)}
           END AS candidate_precision,
           CASE WHEN n_true_pairs > 0
                THEN {ratio_round_sql("n_verified", "n_true_pairs", 4)}
           END AS recall
    FROM nc, nv, nt
    """,
    doc="MinHash-LSH quality audit [ext/dedup]: raw band-collision "
    "candidates vs exact-verified pairs vs exact ground truth (same "
    "shingles + threshold, so verified = true positives exactly) with "
    "candidate precision and recall as exact integer ratios — the "
    "small-sample validation of the band geometry before the sketch "
    "gates a 100 TB run. Reuses the shared portable-md5 pipeline CTEs, "
    "so even the audit replays bit-for-bit.",
)(lambda spark, sf: _dedup.lsh_quality_report(_t(spark, sf, "documents")))


def _corpus_dataset_card(spark: SparkSession, sf: str) -> DataFrame:
    """The per-source dataset card: curation profile (dup fraction, mean
    quality), lexical diversity (vocab/TTR/hapax), and the mixing policy
    (share, epochs, effective tokens) in ONE table — what a dataset
    release actually publishes per source. Three dimension-sized
    component tables joined on source (broadcast-scale at any corpus
    size); each component is independently oracle-checked, and the card
    oracle nests their exact SQL twins as CTEs so the composition
    replays end-to-end.
    """
    docs = _t(spark, sf, "documents")
    prof = _text.source_quality_profile(docs)
    vocab = _text.vocab_stats(docs)
    mix = _sampling.mixing_epochs(docs).select(
        "source", "token_share", "epochs", "effective_tokens"
    )
    return prof.join(vocab, "source").join(mix, "source")


_register(
    "corpus_dataset_card",
    f"""
    WITH p AS ({REGISTRY["source_quality_profile"].oracle}),
    v AS ({REGISTRY["corpus_vocab_stats"].oracle}),
    m AS ({REGISTRY["dataset_mixing_epochs"].oracle})
    SELECT p.source, p.n_docs, p.n_unique, p.dup_frac, p.avg_tokens,
           p.avg_quality,
           v.total_tokens, v.vocab, v.hapax, v.ttr, v.hapax_frac,
           m.token_share, m.epochs, m.effective_tokens
    FROM p
    JOIN v ON v.source = p.source
    JOIN m ON m.source = p.source
    """,
    doc="Per-source dataset card [ext/curation]: curation profile + "
    "lexical diversity + mixing policy in one table — the release "
    "artifact. Three dimension-sized joins; the oracle nests the three "
    "exact component twins as CTEs, so the composition replays "
    "end-to-end.",
)(_corpus_dataset_card)


# --------------------------------------------------------------------------
# TPC-H-shaped analytics, second batch (r6): the remaining classic plan
# shapes over the fixture star schema — scan-level pushdown (Q6), the
# dim-broadcast revenue rollup by year (Q9), a grid-quotient ratio over a
# conditional sum (Q14), a fact-fact self-referential avg threshold (Q17),
# HAVING over a fact aggregate re-joined to its dimensions (Q18), an
# OR-of-ANDs pushdown predicate (Q19), a distinct-count rollup (Q16) and a
# scalar-subquery + anti-join (Q22). All revenue math follows the
# DECIMAL-grid rule (_REV_SQL); all ratios round via numeric.ratio_round.
# --------------------------------------------------------------------------


def _forecast_revenue_change(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: a single-row global aggregate whose filters all
    reach the parquet scan (year, discount band, quantity cap pushed
    down; ReadSchema prunes to the 4 referenced columns). discount×price lies on the
    1e-4 grid (2dp×2dp), so the rounded product sums exactly as
    DECIMAL — no float accumulation anywhere."""
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    disc_rev = F.round(
        F.col("l_extendedprice") * F.col("l_discount"), 4
    ).cast("decimal(18,4)")
    return li.agg(
        F.sum(disc_rev).cast("double").alias("forecast_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


_register(
    "forecast_revenue_change",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount, 4)
                         AS DECIMAL(18,4))) AS DOUBLE) AS forecast_revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape (forecast revenue change) [analytics]: global "
    "sum of price*discount under fully-pushed-down scan predicates "
    "(date band, discount band, quantity cap) - the canonical "
    "scan-efficiency probe. The product lies on the 1e-4 grid, so the "
    "round is tie-free and the DECIMAL sum exact.",
)(_forecast_revenue_change)


def _nation_year_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape (profit rollup, revenue-only — the fixture has no
    partsupp cost side): revenue by SUPPLIER nation × ship year. The
    supplier and nation dims broadcast; the single shuffle is the
    |nations|·|years|-group aggregate, partial-combined map-side."""
    li = _t(spark, sf, "lineitem")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.sum(_rev_term()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_register(
    "nation_year_revenue",
    f"""
    SELECT n_name, CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY 1, 2
    """,
    doc="TPC-H Q9 shape (nation/year revenue rollup) [analytics]: "
    "supplier + nation dims broadcast into the lineitem scan, one "
    "map-side-combined aggregate to |nations|x|years| rows, "
    "DECIMAL-grid revenue.",
)(_nation_year_revenue)


def _promo_revenue_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: monthly share of revenue from PROMO parts.

    The share is a grid QUOTIENT (both sums lie on the 1e-4 grid), so it
    rounds via exact integer arithmetic (numeric.ratio_round at scale 6)
    — ROUND(double) of e.g. promo/total = 1/8 would tie on the grid.
    Plan: part dim broadcasts into the lineitem scan (at 100 TB part is
    still dimension-sized relative to lineitem; a shuffle join would
    move the fact), one map-side-combined aggregate to |months| rows.
    """
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").select("p_partkey", "p_type")
    promo_term = F.when(F.col("p_type") == "PROMO", _rev_term()).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    agg = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.sum(promo_term).alias("promo_rev"),
            F.sum(_rev_term()).alias("total_rev"),
        )
    )
    units = lambda c: (F.col(c) * 10_000).cast("decimal(38,0)")  # noqa: E731
    return agg.select(
        "ship_month",
        F.col("promo_rev").cast("double").alias("promo_revenue"),
        F.col("total_rev").cast("double").alias("total_revenue"),
        ratio_round(units("promo_rev"), units("total_rev"), 6).alias(
            "promo_share"
        ),
    )


_register(
    "promo_revenue_share",
    f"""
    WITH m AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
             SUM(CASE WHEN p_type = 'PROMO' THEN {_REV_SQL}
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS promo_rev,
             SUM({_REV_SQL}) AS total_rev
      FROM lineitem JOIN part ON p_partkey = l_partkey
      GROUP BY 1
    )
    SELECT ship_month,
           CAST(promo_rev AS DOUBLE) AS promo_revenue,
           CAST(total_rev AS DOUBLE) AS total_revenue,
           {ratio_round_sql('CAST(promo_rev * 10000 AS HUGEINT)',
                            'CAST(total_rev * 10000 AS HUGEINT)', 6)}
             AS promo_share
    FROM m
    """,
    doc="TPC-H Q14 shape (promo revenue share) [analytics]: monthly "
    "PROMO-part revenue fraction. Conditional DECIMAL-grid sums; the "
    "share is a grid quotient rounded in exact integer space "
    "(ratio_round scale 6) - ROUND(double) would tie whenever the "
    "unit ratio's reduced denominator divides the grid.",
)(_promo_revenue_share)


def _small_qty_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked in small-quantity orders — lines
    whose quantity is below 20% of their part's average.

    The threshold comparison runs in exact integer space
    (qty·5·n_part < sum_qty_part — quantities are integer-valued), so no
    float average is ever materialized; avg_yearly divides the cents sum
    by 700 via ratio_round. Plan: per-part stats are a map-side-combined
    groupBy(partkey); the stats join back to lineitem co-partitions on
    partkey (both sides hash the same key — one shuffle each, no
    re-shuffle); the part dim broadcasts for the brand rollup."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey",
        F.col("l_quantity").cast("long").alias("qty"),
        "l_extendedprice",
    )
    stats = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n_part")
    )
    part = _t(spark, sf, "part").select("p_partkey", "p_brand")
    small = (
        li.join(stats, "l_partkey")
        .filter(F.col("qty") * 5 * F.col("n_part") < F.col("sum_qty"))
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    )
    return small.groupBy("p_brand").agg(
        ratio_round(cents(F.sum("l_extendedprice")), F.lit(700), 4).alias(
            "avg_yearly"
        ),
        F.count(F.lit(1)).alias("n_small_lines"),
    )


_register(
    "small_qty_revenue",
    f"""
    WITH s AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
             COUNT(*) AS n_part
      FROM lineitem GROUP BY 1
    )
    SELECT p_brand,
           {ratio_round_sql(cents_sql('SUM(l_extendedprice)'), '700', 4)}
             AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_small_lines
    FROM lineitem l
    JOIN s USING (l_partkey)
    JOIN part ON p_partkey = l_partkey
    WHERE CAST(l_quantity AS BIGINT) * 5 * n_part < sum_qty
    GROUP BY 1
    """,
    doc="TPC-H Q17 shape (small-quantity revenue) [analytics]: lines "
    "below 20% of their part's average quantity, rolled up by brand. "
    "The avg threshold compares as one exact integer inequality "
    "(qty*5*n < sum) - no float average exists to mis-round; "
    "avg_yearly = cents/700 via ratio_round. Per-part stats co-partition "
    "with the join-back on partkey.",
)(_small_qty_revenue)


def _large_order_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: top-20 largest orders by total quantity (>180),
    with their customer. HAVING over the fact aggregate runs FIRST
    (per-order sums are map-side-combined, the >180 filter cuts the
    survivors to a sliver), then the survivors — dimension-sized after
    the cut — join to orders and broadcast-join to customer.
    TakeOrderedAndProject bounds the final sort."""
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        .filter(F.col("sum_qty") > 180)
    )
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_name")
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").alias("order_ts"),
            "o_totalprice",
            "sum_qty",
        )
        .orderBy(F.desc("sum_qty"), F.asc("o_orderkey"))
        .limit(20)
    )


_register(
    "large_order_customers",
    """
    SELECT c_custkey, c_name, o_orderkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS order_ts,
           o_totalprice, CAST(sum_qty AS BIGINT) AS sum_qty
    FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
          FROM lineitem GROUP BY 1 HAVING sum_qty > 180) b
    JOIN orders ON o_orderkey = b.l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY sum_qty DESC, o_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q18 shape (large-volume customers) [analytics]: HAVING "
    "over the per-order quantity sum prunes the fact to a sliver "
    "BEFORE any join; survivors join orders and broadcast customer; "
    "top-20 is TakeOrderedAndProject with an orderkey tie-break.",
)(_large_order_customers)


def _disjunctive_brand_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    both join sides (brand × quantity band × size band). The part side
    of each disjunct (brand, size) prunes the broadcast dim BEFORE the
    join (brand IN-list is the union of the disjuncts' part
    predicates); the mixed predicate evaluates on the joined rows."""
    li = _t(spark, sf, "lineitem")
    part = _t(spark, sf, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#2", "Brand#3")
    ).select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & qty.between(1, 11)
            & F.col("p_size").between(1, 5)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & qty.between(10, 20)
            & F.col("p_size").between(1, 10)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & qty.between(20, 30)
            & F.col("p_size").between(1, 15)
        )
    )
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .groupBy("p_brand")
        .agg(
            F.sum(_rev_term()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_register(
    "disjunctive_brand_revenue",
    f"""
    SELECT p_brand, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11
           AND p_size BETWEEN 1 AND 5)
       OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20
           AND p_size BETWEEN 1 AND 10)
       OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30
           AND p_size BETWEEN 1 AND 15)
    GROUP BY 1
    """,
    doc="TPC-H Q19 shape (disjunctive predicate revenue) [analytics]: "
    "OR-of-ANDs across both join sides; the brand IN-list (the union "
    "of the disjuncts' part predicates) prunes the broadcast dim "
    "before the join, the mixed predicate runs post-join.",
)(_disjunctive_brand_revenue)


def _supplier_part_variety(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers have shipped each
    (brand, size) of non-PROMO parts (the fixture has no partsupp; the
    lineitem fact is the supplier-part link). COUNT(DISTINCT) plans as
    the standard two-phase expand-aggregate; the filtered part dim
    broadcasts."""
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    part = _t(spark, sf, "part").filter(
        (F.col("p_type") != "PROMO") & (F.col("p_brand") != "Brand#1")
    ).select("p_partkey", "p_brand", "p_size")
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_register(
    "supplier_part_variety",
    """
    SELECT p_brand, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_type <> 'PROMO' AND p_brand <> 'Brand#1'
    GROUP BY 1, 2
    """,
    doc="TPC-H Q16 shape (supplier-part variety) [analytics]: distinct "
    "suppliers per (brand, size) over non-PROMO parts via the lineitem "
    "link; two-phase distinct aggregate, broadcast part dim.",
)(_supplier_part_variety)


def _dormant_rich_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no orders since 1999 — a scalar aggregate consumed as a
    broadcast plus an anti join.

    The avg comparison never materializes a float average: acctbal
    cents × n_pos > sum_pos_cents is one exact integer inequality
    (the avg is a grid quotient — comparing against its float would
    tie-break differently per engine for balances landing on it).
    The anti join's date predicate rides the equi-join; segment
    totals are grid sums."""
    cust = _t(spark, sf, "customer")
    bal_cents = F.round(F.col("c_acctbal") * 100).cast("long")
    stats = cust.filter(F.col("c_acctbal") > 0).agg(
        F.sum(bal_cents).alias("sum_pos_cents"),
        F.count(F.lit(1)).alias("n_pos"),
    )
    orders = _t(spark, sf, "orders").filter(
        F.col("o_orderdate") >= F.lit("1999-01-01 00:00:00").cast("timestamp")
    ).select("o_custkey")
    rich = cust.crossJoin(F.broadcast(stats)).filter(
        bal_cents * F.col("n_pos") > F.col("sum_pos_cents")
    )
    dormant = rich.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        (F.sum(bal_cents).cast("double") / 100.0).alias("total_acctbal"),
    )


_register(
    "dormant_rich_customers",
    """
    WITH s AS (
      SELECT SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS sum_pos_cents,
             COUNT(*) AS n_pos
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0
             AS total_acctbal
    FROM customer, s
    WHERE CAST(ROUND(c_acctbal * 100) AS BIGINT) * n_pos > sum_pos_cents
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c_custkey
                        AND o.o_orderdate >= TIMESTAMP '1999-01-01')
    GROUP BY 1
    """,
    doc="TPC-H Q22 shape (dormant rich customers) [analytics]: scalar "
    "positive-balance stats broadcast into the customer scan, the "
    "above-average test as ONE exact integer inequality (cents x n > "
    "sum_cents - no float average to tie), anti join against "
    "recent orders with the date filter pushed to the orders scan, "
    "cents-grid segment totals.",
)(_dormant_rich_customers)


def _important_part_values(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue from one nation's suppliers
    exceeds 0.1% of that nation's total — the per-group-vs-global-total
    HAVING (the fixture has no partsupp; supplier-filtered lineitem
    revenue stands in for supplycost*availqty).

    One fact pass: revenue partial-aggregates to |parts| rows; the
    scalar total derives from THAT small table (lazily checkpointed —
    scalar branch + filter branch are two consumers of a computed
    subplan) and broadcasts back. The share test is one exact integer
    inequality on 1e-4 revenue units (units*1000 > total_units), so no
    float fraction of the total ever materializes — value*0.001 would
    be a grid quotient with engine-divergent ties."""
    supp = (
        _t(spark, sf, "supplier")
        .filter(F.col("s_nationkey") == 7)
        .select("s_suppkey")
    )
    li = _t(spark, sf, "lineitem").join(
        F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey")
    )
    per_part = (
        li.groupBy("l_partkey")
        .agg(F.sum((_rev_term() * 10000).cast("long")).alias("units"))
        .localCheckpoint(eager=False)
    )
    total = per_part.agg(F.sum("units").alias("total_units"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("units") * 1000 > F.col("total_units"))
        .select(
            "l_partkey",
            (F.col("units").cast("double") / 10000.0).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), F.asc("l_partkey"))
    )


_register(
    "important_part_values",
    f"""
    WITH pp AS (
      SELECT l_partkey,
             SUM(CAST({_REV_SQL} * 10000 AS BIGINT)) AS units
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      WHERE s_nationkey = 7
      GROUP BY 1
    ), tot AS (SELECT SUM(units) AS total_units FROM pp)
    SELECT l_partkey, CAST(units AS DOUBLE) / 10000.0 AS part_value
    FROM pp, tot
    WHERE units * 1000 > total_units
    ORDER BY part_value DESC, l_partkey
    """,
    doc="TPC-H Q11 shape (important parts) [analytics]: per-part revenue "
    "share vs a scalar global total, HAVING as one exact integer "
    "inequality on 1e-4 units (no float fraction of the total), single "
    "fact pass with the |parts|-row aggregate checkpointed for its two "
    "consumers (scalar total + filter).",
)(_important_part_values)


def _excess_parts_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose recent shipments of 'red' parts
    dominate their history — the nested-IN semi-join chain (parts IN
    name-filtered set, suppliers IN excess-shipment set), re-expressed
    as broadcast part filter → ONE conditional aggregation over the
    fact (recent + total qty in the same pass; TPC-H's separate
    availqty-vs-shipped subqueries would be a second fact scan here) →
    left-semi join into the supplier dim.

    Quantities are integer-valued doubles; the 50% threshold is the
    exact integer inequality 2*q_recent > q_total (a float 0.5*total
    would be a grid quotient)."""
    red = (
        _t(spark, sf, "part")
        .filter(F.col("p_name").startswith("red "))
        .select("p_partkey")
    )
    li = _t(spark, sf, "lineitem").join(
        F.broadcast(red), F.col("l_partkey") == F.col("p_partkey")
    )
    qty = F.round(F.col("l_quantity")).cast("long")
    recent = F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00").cast(
        "timestamp"
    )
    excess = (
        li.groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(F.when(recent, qty).otherwise(F.lit(0))).alias("q_recent"),
            F.sum(qty).alias("q_total"),
        )
        .filter(2 * F.col("q_recent") > F.col("q_total"))
        .select("l_suppkey")
        .distinct()
    )
    nat = _t(spark, sf, "nation")
    return (
        _t(spark, sf, "supplier")
        .join(excess, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


_register(
    "excess_parts_suppliers",
    """
    WITH red AS (SELECT p_partkey FROM part WHERE p_name LIKE 'red %'),
    q AS (
      SELECT l_suppkey,
             SUM(CASE WHEN l_shipdate >= TIMESTAMP '1998-01-01'
                      THEN CAST(ROUND(l_quantity) AS BIGINT) ELSE 0 END)
               AS q_recent,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q_total
      FROM lineitem JOIN red ON p_partkey = l_partkey
      GROUP BY l_suppkey, l_partkey
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier JOIN nation ON n_nationkey = s_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM q WHERE 2 * q_recent > q_total)
    ORDER BY s_suppkey
    """,
    doc="TPC-H Q20 shape (excess-part suppliers) [analytics]: nested-IN "
    "semi-join chain as broadcast name-filtered part dim -> one "
    "conditional aggregation (recent+total qty in a single fact pass) "
    "-> integer 2*recent > total threshold -> left-semi into supplier. "
    "No second fact scan, no float 50% threshold.",
)(_excess_parts_suppliers)


def _chain_sum(name: str, n: int) -> str:
    """Left-associative ``name[1] + name[2] + ... + name[n]`` — the SQL
    replay of an engineered left-to-right float accumulation."""
    return "(" + " + ".join(f"{name}[{t}]" for t in range(1, n + 1)) + ")"


def _pq_lloyd_assign_sql(i: str, prev: str) -> str:
    """One unrolled Lloyd assignment ``d{i}``/``best{i}`` against a FLOAT
    codebook CTE ``prev`` (columns j, dim, val DOUBLE): per-(vec, block)
    squared distances as the literal dim-ordered chain `_sub_dists`
    runs, argmin with smallest-j ties (np.argmin)."""
    w = _PQ_SUB_DIMS
    return f"""d{i} AS (
      SELECT vec_id, m, j, {_chain_sum("ts", w)} AS d2
      FROM (SELECT q.vec_id, (q.dim - 1) // {w} AS m, b.j,
                   list((CAST(q.code AS DOUBLE) - b.val)
                        * (CAST(q.code AS DOUBLE) - b.val)
                        ORDER BY q.dim) AS ts
            FROM qcodes q JOIN {prev} b ON b.dim = q.dim
            GROUP BY 1, 2, 3)
    ),
    best{i} AS (
      SELECT vec_id, m, j, d2
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, j) AS rn
            FROM d{i})
      WHERE rn = 1
    )"""


def _pq_trained_oracle_sql() -> str:
    """DuckDB replay of ``quantize.pq_codes_trained``: ``LLOYD_ITERS``
    unrolled Lloyd rounds from the integer anchor codebook, then the
    final assignment. Each round's update is integer (sum, count) per
    (j, dim) and ONE IEEE division; empty clusters keep the previous
    value (the Spark side's union-seed merge)."""
    w = _PQ_SUB_DIMS
    rounds = "".join(
        f"""
    {_pq_lloyd_assign_sql(str(i), f"cb{i - 1}")},
    upd{i} AS (
      SELECT b.j, q.dim, SUM(q.code) AS s, COUNT(*) AS n
      FROM best{i} b
      JOIN qcodes q ON q.vec_id = b.vec_id AND (q.dim - 1) // {w} = b.m
      GROUP BY 1, 2
    ),
    cb{i} AS MATERIALIZED (
      SELECT c.j, c.dim,
             COALESCE(CAST(u.s AS DOUBLE) / CAST(u.n AS DOUBLE), c.val)
               AS val
      FROM cb{i - 1} c LEFT JOIN upd{i} u ON u.j = c.j AND u.dim = c.dim
    )
,
    """
        for i in range(2, _quant.LLOYD_ITERS + 1)
    )
    return f"""
    WITH {_QUANT_CTES},
    {_PQ_ASSIGN_CTES},
    -- Iteration 1 assigns under the INTEGER anchor codebook: the float
    -- chain over integer-valued doubles is exact, so it EQUALS the
    -- order-independent integer `best` assignment above (same d2
    -- values, same ties). Only the update step is new.
    upd1 AS (
      SELECT b.j, q.dim, SUM(q.code) AS s, COUNT(*) AS n
      FROM (SELECT vec_id, m, j FROM best WHERE rn = 1) b
      JOIN qcodes q ON q.vec_id = b.vec_id AND (q.dim - 1) // {w} = b.m
      GROUP BY 1, 2
    ),
    cb1 AS MATERIALIZED (
      SELECT c.j, c.dim,
             COALESCE(CAST(u.s AS DOUBLE) / CAST(u.n AS DOUBLE),
                      CAST(c.code AS DOUBLE)) AS val
      FROM cb c LEFT JOIN upd1 u ON u.j = c.j AND u.dim = c.dim
    ),
    {rounds}{_pq_lloyd_assign_sql("fin", f"cb{_quant.LLOYD_ITERS}")}
    SELECT vec_id,
           array_to_string(js, ' ') AS pq_codes,
           {_chain_sum("ds", _quant.PQ_SUBSPACES)} AS distortion
    FROM (SELECT vec_id, list(j ORDER BY m) AS js, list(d2 ORDER BY m) AS ds
          FROM bestfin GROUP BY 1)
    """


_register(
    "embedding_pq_codes_trained",
    _pq_trained_oracle_sql(),
    doc="PQ codes from a TRAINED per-subspace codebook [ext/similarity]: "
    "2 Lloyd iterations in DataFrame space, initialized from the "
    "md5-anchor codebook - so total distortion is provably <= the "
    "oracle-checked anchor variant's (Lloyd monotonicity; pytest "
    "bound in test_quantize.py). FULL oracle (upgraded r7 from "
    "rows-only): every float is a single IEEE op on exact integers "
    "(the centroid mean s/n) or a term in an explicit left-to-right "
    "chain (per-block distances, the per-vector distortion over "
    "blocks), so the DuckDB unrolled-Lloyd replay is bit-identical — "
    "the residual-IVFPQ engineered-order discipline. Iteration 1 "
    "reuses the integer anchor assignment (float chains over "
    "integer-valued doubles are exact). Per iteration: one Arrow map "
    "stage emitting <=n_sub*J partial-sum rows per batch (map-side "
    "combine of the centroid update), tiny codebook rebuild, "
    "checkpointed codebook row between stages. Code vector joined to "
    "a ' '-separated string for the driver hash; the distortion "
    "double crosses RAW (bit parity makes rounding unnecessary, and "
    "dyadic cluster sizes could land a rounded value on the "
    "half-grid).",
)(
    lambda spark, sf: _quant.pq_codes_trained(_t(spark, sf, "embeddings"))
    .withColumn(
        "pq_codes", F.array_join(F.col("pq_codes").cast("array<string>"), " ")
    )
)


def _res_d2_sql(r: str, v: str, m: str) -> str:
    """Left-associative chained squared-distance over block ``m`` (of
    ``sub`` = 64 / ``PQ_SUBSPACES`` dimensions) of two 1-indexed DOUBLE
    lists — replays `quantize._sub_dists`' explicit
    left-to-right accumulation bit-for-bit (each term is one IEEE
    subtract + one multiply; the chain fixes the summation order the
    same way list_dot_product replays the cosine fold)."""
    sub = _PQ_SUB_DIMS
    terms = [
        f"(({r}[{m}*{sub}+{t}] - {v}[{m}*{sub}+{t}])"
        f" * ({r}[{m}*{sub}+{t}] - {v}[{m}*{sub}+{t}]))"
        for t in range(1, sub + 1)
    ]
    return "(" + " + ".join(terms) + ")"


_RES_DIFF_LIST = (
    "list_transform(generate_series(1, 64), i -> {a}[i] - {b}[i])"
)

_register(
    "similarity_topk_ivfpq_residual",
    f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    cent AS MATERIALIZED (SELECT vec_id AS centroid_id, emb AS c_emb FROM e
             WHERE vec_id % {_sim.IVF_CENTROID_MODULUS} = 0),
    cells AS MATERIALIZED (
      SELECT vec_id, centroid_id
      FROM (SELECT e.vec_id, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY e.vec_id
                     ORDER BY {_COS_SQL.format(a="e.emb", b="c.c_emb")} DESC,
                              c.centroid_id) AS rn2
            FROM e, cent c)
      WHERE rn2 = 1
    ),
    anchors AS (
      SELECT vec_id,
             ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) - 1 AS j
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT {_quant.PQ_CENTROIDS}
    ),
    cb AS MATERIALIZED (
      SELECT a.j, {_RES_DIFF_LIST.format(a="e.emb", b="c.c_emb")} AS v
      FROM anchors a
      JOIN e ON e.vec_id = a.vec_id
      JOIN cells cl ON cl.vec_id = a.vec_id
      JOIN cent c ON c.centroid_id = cl.centroid_id
    ),
    rdoc AS (
      SELECT cl.vec_id, cl.centroid_id,
             {_RES_DIFF_LIST.format(a="e.emb", b="c.c_emb")} AS r
      FROM cells cl
      JOIN e ON e.vec_id = cl.vec_id
      JOIN cent c ON c.centroid_id = cl.centroid_id
    ),
    ms AS MATERIALIZED (SELECT unnest(generate_series(0, {_quant.PQ_SUBSPACES - 1})) AS m),
    dpc AS (
      SELECT d.vec_id, d.centroid_id, ms.m, cb.j,
             {_res_d2_sql("d.r", "cb.v", "ms.m")} AS d2
      FROM rdoc d, ms, cb
    ),
    docpq AS (
      SELECT vec_id, centroid_id, m, j
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                         ORDER BY d2, j) AS rn
            FROM dpc)
      WHERE rn = 1
    ),
    probes AS (
      SELECT query_id, q_centroid
      FROM (SELECT q.vec_id AS query_id, c.centroid_id AS q_centroid,
                   ROW_NUMBER() OVER (PARTITION BY q.vec_id
                     ORDER BY {_COS_SQL.format(a="q.emb", b="c.c_emb")} DESC,
                              c.centroid_id) AS pr
            FROM e q, cent c WHERE q.vec_id < 10)
      WHERE pr <= {_quant.IVFPQ_NPROBE}
    ),
    qres AS (
      SELECT p.query_id, p.q_centroid,
             {_RES_DIFF_LIST.format(a="q.emb", b="c.c_emb")} AS r
      FROM probes p
      JOIN e q ON q.vec_id = p.query_id
      JOIN cent c ON c.centroid_id = p.q_centroid
    ),
    adc AS (
      SELECT qr.query_id, qr.q_centroid, ms.m, cb.j,
             {_res_d2_sql("qr.r", "cb.v", "ms.m")} AS t
      FROM qres qr, ms, cb
    ),
    scores AS (
      SELECT query_id, neighbor_id,
             ts[1]+ts[2]+ts[3]+ts[4]+ts[5]+ts[6]+ts[7]+ts[8] AS dist
      FROM (SELECT a.query_id, p.vec_id AS neighbor_id,
                   list(a.t ORDER BY a.m) AS ts
            FROM docpq p
            JOIN adc a ON a.q_centroid = p.centroid_id
                      AND a.m = p.m AND a.j = p.j
            WHERE p.vec_id <> a.query_id
            GROUP BY 1, 2)
    )
    SELECT query_id, neighbor_id, ROUND(dist, 4) AS dist,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY dist, neighbor_id) AS rnk
          FROM scores)
    WHERE rnk <= 5
    """,
    doc="IVFADC with RESIDUAL quantization [ext/similarity]: PQ encodes "
    "x - coarse_centroid (Jegou et al. 2011 SV.A) - the fidelity rung "
    "above similarity_topk_ivfpq; residuals concentrate near the "
    "origin so the codebook budget buys more resolution. FULL oracle "
    "(upgraded from rows-only, VERDICT r6 item 3): every float is a "
    "chain of single IEEE ops in an engineered order — residuals are "
    "one subtract per component, block distances fold left-to-right "
    "(quantize._sub_dists' explicit chain = the oracle's literal "
    "8-term sum), the final ADC distance folds over an m-ORDERED "
    "array on both engines, cell/probe selection reuses the proven "
    "bit-identical cosine form, and every rank carries a tie-break. "
    "pytest additionally pins the planted-duplicate recall bound.",
)(
    lambda spark, sf: _quant.ivfpq_topk_residual(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10
    ).withColumn("dist", F.round("dist", 4))
)


# --------------------------------------------------------------------------
# Text-pipeline additions (late r6): tokenizer induction, collocations,
# entropy, corpus novelty.
# --------------------------------------------------------------------------

_register(
    "text_bpe_merge_stats",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    vocab AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(t, ' ')) AS w FROM norm)
      WHERE length(w) > 0
      GROUP BY 1
    ),
    pairs AS (
      SELECT substring(w, gs.i, 2) AS pair, freq
      FROM vocab, LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) gs
      WHERE length(w) >= 2
    )
    SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1
    ORDER BY pair_count DESC, pair
    LIMIT 30
    """,
    doc="First-round BPE merge statistics [ext/text]: corpus-wide "
    "adjacent-character-pair counts weighted by word frequency - what "
    "the first byte-pair-encoding merge maximizes when inducing a "
    "tokenizer (Sennrich et al. 2016). The corpus collapses to its "
    "word-frequency vocabulary BEFORE pair explosion, so the explode "
    "runs over vocabulary types, not corpus tokens. Exact integer "
    "counts, pair-string tie-break.",
)(lambda spark, sf: _text.bpe_merge_stats(_t(spark, sf, "documents")))


_register(
    "text_word_pmi",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (
      SELECT doc_id, w, i
      FROM (SELECT doc_id, unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i
            FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM norm))
      WHERE length(w) > 0
    ),
    bi AS (
      SELECT a.w AS x, b.w AS y
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
    uni AS (SELECT w AS t, COUNT(*) AS c FROM toks GROUP BY 1),
    nb AS (SELECT SUM(c_xy) AS n_bi FROM cxy),
    nu AS (SELECT SUM(c) AS n_uni FROM uni)
    SELECT x, y, c_xy,
           CAST(ROUND(LN(((CAST(c_xy AS DOUBLE) * n_uni) * n_uni)
                    / ((CAST(n_bi AS DOUBLE) * c_x) * c_y)) * 1e6, 0)
                AS BIGINT) AS pmi_e6
    FROM (SELECT cxy.x, cxy.y, cxy.c_xy, ux.c AS c_x, uy.c AS c_y
          FROM cxy
          JOIN uni ux ON ux.t = cxy.x
          JOIN uni uy ON uy.t = cxy.y
          WHERE cxy.c_xy >= 5), nb, nu
    ORDER BY pmi_e6 DESC, x, y
    LIMIT 40
    """,
    doc="Adjacent-word PMI collocations [ext/text]: pointwise mutual "
    "information of word bigrams (Church & Hanks 1990; the phrase step "
    "of word2vec pipelines), min_count 5, top-40. The log argument is "
    "built with the SAME left-associated float op order on both "
    "engines; ln lands in integer micro-nats (pmi_e6 BIGINT - int64 "
    "crosses every hash/format pathway bit-exactly; r8 libm audit). "
    "Bigram/unigram counts each one map-side-combined shuffle; "
    "marginals join the vocab-sized table.",
)(lambda spark, sf: _text.word_pmi_pairs(_t(spark, sf, "documents")))


_register(
    "text_char_entropy",
    f"""
    WITH norm AS (
      SELECT doc_id, t FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
      WHERE length(t) > 0
    ),
    chars AS (
      SELECT doc_id, length(t) AS n, substring(t, gs.i, 1) AS ch
      FROM norm, LATERAL (SELECT unnest(generate_series(1, length(t))) AS i) gs
    ),
    cc AS (SELECT doc_id, n, ch, COUNT(*) AS c FROM chars GROUP BY 1, 2, 3)
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           CAST(SUM(CAST(ROUND((CAST(c AS DOUBLE) / n)
                                * LN(CAST(n AS DOUBLE) / c), 6)
                         AS DECIMAL(28,6))) AS DOUBLE) AS entropy
    FROM cc GROUP BY 1
    """,
    doc="Per-document character-unigram entropy [ext/text]: the "
    "compressibility/diversity signal (degenerate low-entropy docs are "
    "a standard pre-training removal target). Each (c/n)ln(n/c) term "
    "rounds to the 1e-6 grid and sums as DECIMAL (the unigram_logprob "
    "idiom - exact, order-independent); c=n gives an exact 0 on both "
    "engines. One (doc,char)-keyed map-side-combined shuffle.",
)(lambda spark, sf: _text.char_entropy(_t(spark, sf, "documents")))


_register(
    "text_ngram_novelty",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    grams AS (SELECT DISTINCT doc_id, sh FROM ({_gram_sql(3)})),
    first AS (SELECT sh, MIN(doc_id) AS first_doc FROM grams GROUP BY 1)
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           {ratio_round_sql(
               "SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)",
               "COUNT(*)", 6)} AS novelty
    FROM grams g JOIN first f USING (sh)
    GROUP BY 1
    """,
    doc="Per-document 3-gram novelty [ext/text/curation]: fraction of a "
    "doc's distinct word 3-grams first seen (min doc_id) in that doc - "
    "the saturation curve curators watch to decide when more scraping "
    "stops adding content. Exact integer ratio via ratio_round; "
    "distinct grams + type-table min + join back, all equi-ops.",
)(lambda spark, sf: _text.ngram_novelty(_t(spark, sf, "documents")))


_register(
    "similarity_topk_matryoshka",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    p AS (SELECT vec_id, emb, emb[1:16] AS pre FROM e),
    q AS (SELECT vec_id AS query_id, emb AS q_emb, pre AS q_pre
          FROM p WHERE vec_id < 10),
    coarse AS (
      SELECT q.query_id, p.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.q_pre", b="p.pre")} AS cos_pre
      FROM p, q WHERE p.vec_id <> q.query_id
    ),
    cand AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY cos_pre DESC, neighbor_id) AS r1 FROM coarse)
      WHERE r1 <= 50
    ),
    rescored AS (
      SELECT c.query_id, c.neighbor_id,
             {_COS_SQL.format(a="q.q_emb", b="p.emb")} AS cos
      FROM cand c
      JOIN p ON p.vec_id = c.neighbor_id
      JOIN q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cos, 4) AS cosine,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, neighbor_id) AS rnk FROM rescored)
    WHERE rnk <= 5
    """,
    doc="Two-stage Matryoshka retrieval [ext/similarity]: rank by cosine "
    "over the first 16 dims (a 4x FLOP cut on the stage that touches "
    "every row - MRL prefixes are valid embeddings, Kusupati et al. "
    "2022), re-score the 50-candidate shortlist full-dim, top-5. Both "
    "stages are the proven bit-identical cosine form, fully "
    "oracle-replayed; full-dim work is candidate-sized via an equi-join "
    "gather.",
)(
    lambda spark, sf: _sim.matryoshka_topk(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10
    )
)


from .operators import sketch as _sketch  # noqa: E402

_register(
    "events_heavy_hitters",
    f"""
    SELECT event_type AS key, CAST(COUNT(*) AS BIGINT) AS true_count
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1
    HAVING COUNT(*) * {_sketch.HEAVY_HITTERS_K + 1} > (SELECT COUNT(*) FROM events
                           WHERE event_type IS NOT NULL)
    ORDER BY true_count DESC, key
    """,
    doc="Misra-Gries heavy hitters over event types [ext/sketch]: the "
    "classic two-pass — a k=8 mergeable MG candidate sketch (Agarwal "
    "et al. 2012; the shuffle moves <= k rows per batch instead of one "
    "row per DISTINCT key, the 100 TB path for high-cardinality "
    "frequency queries) then a broadcast join back to EXACT counts, "
    "filtered to the provably-heavy keys true*(k+1) > N. Any such key "
    "is guaranteed MG-retained (est >= true - N/(k+1) > 0), so the "
    "output is partition-INdependent and fully oracle-checked (plain "
    "exact-frequency SQL with the same integer HAVING) — upgraded from "
    "rows-only, VERDICT r6 item 4. The partition-dependent estimates "
    "(heavy_hitters, pytest-bounded) stay the pure-sketch surface.",
)(
    lambda spark, sf: _sketch.provable_heavy_hitters(
        _t(spark, sf, "events"), F.col("event_type")
    )
)


def _nation_pair_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between one nation pair, both
    directions, by ship year — supplier nation ≠ customer nation rides
    the broadcast dim joins; the one shuffle is orders⋈lineitem."""
    sn = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    cn = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    pair = (
        ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
        | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("ship_year")
        )
        .agg(
            F.sum(_rev_term()).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_register(
    "nation_pair_volume",
    f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INTEGER) AS ship_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation sn ON sn.n_nationkey = s_nationkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation cn ON cn.n_nationkey = c_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
    """,
    doc="TPC-H Q7 shape (nation-pair shipping volume) [analytics]: "
    "bidirectional supplier-customer nation pair by ship year; all "
    "dims broadcast, one orders-lineitem shuffle, DECIMAL-grid "
    "revenue.",
)(_nation_pair_volume)


def _nation_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_2 suppliers' share of revenue to ASIA
    customers, per order year. The share is a grid quotient of two
    DECIMAL-grid sums → ratio_round in exact integer space."""
    nat = _t(spark, sf, "nation")
    reg = _t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    asia_nat = nat.join(
        F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey")
    ).select("n_nationkey")
    cust = _t(spark, sf, "customer").join(
        F.broadcast(asia_nat), F.col("c_nationkey") == F.col("n_nationkey")
    ).select("c_custkey")
    sn = _t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    supp = (
        _t(spark, sf, "supplier")
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
        .select("s_suppkey", "supp_nation")
    )
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year")
    )
    n2_term = F.when(
        F.col("supp_nation") == "NATION_2", _rev_term()
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("o_year")
        .agg(
            F.sum(n2_term).alias("n2_rev"),
            F.sum(_rev_term()).alias("total_rev"),
        )
    )
    units = lambda c: (F.col(c) * 10_000).cast("decimal(38,0)")  # noqa: E731
    return agg.select(
        "o_year",
        F.col("n2_rev").cast("double").alias("nation_revenue"),
        F.col("total_rev").cast("double").alias("total_revenue"),
        ratio_round(units("n2_rev"), units("total_rev"), 6).alias("mkt_share"),
    )


_register(
    "nation_market_share",
    f"""
    WITH m AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             SUM(CASE WHEN sn.n_name = 'NATION_2' THEN {_REV_SQL}
                      ELSE CAST(0 AS DECIMAL(18,4)) END) AS n2_rev,
             SUM({_REV_SQL}) AS total_rev
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation cn ON cn.n_nationkey = c_nationkey
      JOIN region ON r_regionkey = cn.n_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation sn ON sn.n_nationkey = s_nationkey
      WHERE r_name = 'ASIA'
      GROUP BY 1
    )
    SELECT o_year,
           CAST(n2_rev AS DOUBLE) AS nation_revenue,
           CAST(total_rev AS DOUBLE) AS total_revenue,
           {ratio_round_sql('CAST(n2_rev * 10000 AS HUGEINT)',
                            'CAST(total_rev * 10000 AS HUGEINT)', 6)}
             AS mkt_share
    FROM m
    """,
    doc="TPC-H Q8 shape (national market share) [analytics]: NATION_2 "
    "suppliers' revenue share to ASIA customers per order year. "
    "Conditional DECIMAL-grid sums; the share rounds in exact integer "
    "space (ratio_round scale 6, the grid-quotient rule). All dims "
    "broadcast, one fact-fact shuffle.",
)(_nation_market_share)


def _cm_cell_sql(j: int, key: str, width: int) -> str:
    return (
        f"('0x' || substr(md5('{j}:' || CAST({key} AS VARCHAR)), 1, 7))::BIGINT"
        f" % {width}"
    )


def _events_count_min(spark: SparkSession, sf: str) -> DataFrame:
    events = _t(spark, sf, "events")
    qk = events.filter(F.col("user_id") < 50).select(
        F.col("user_id").alias("key")
    ).distinct()
    return _sketch.count_min_estimate(events, F.col("user_id"), qk)


_register(
    "events_count_min",
    f"""
    WITH keyed AS (SELECT CAST(user_id AS BIGINT) AS key FROM events),
    hashed AS (
      {" UNION ALL ".join(
        f"SELECT {j} AS j, {_cm_cell_sql(j, 'key', 256)} AS cell FROM keyed"
        for j in range(3)
      )}
    ),
    sketch AS (SELECT j, cell, COUNT(*) AS cnt FROM hashed GROUP BY 1, 2),
    qk AS (SELECT DISTINCT key FROM keyed WHERE key < 50),
    probes AS (
      {" UNION ALL ".join(
        f"SELECT key, {j} AS j, {_cm_cell_sql(j, 'key', 256)} AS cell FROM qk"
        for j in range(3)
      )}
    ),
    est AS (
      SELECT key, CAST(MIN(cnt) AS BIGINT) AS cm_estimate
      FROM probes JOIN sketch USING (j, cell) GROUP BY 1
    ),
    exact AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS true_count
      FROM keyed WHERE key < 50 GROUP BY 1
    )
    SELECT e.key, COALESCE(x.true_count, 0) AS true_count, e.cm_estimate
    FROM est e LEFT JOIN exact x USING (key)
    """,
    doc="Count-Min frequency estimates [ext/sketch]: a FULLY "
    "oracle-checked sketch - the 3x256 table builds from md5-seeded "
    "hash rows both engines replay bit-for-bit (Cormode & "
    "Muthukrishnan 2005), probed for the user_id<50 key set alongside "
    "exact counts (est >= true visible in the output). The sketch "
    "table is depth*width rows at ANY input size; the build "
    "partial-aggregates per partition before its one shuffle - "
    "nothing scales with distinct-key count (the complement to the "
    "rows-only Misra-Gries entry).",
)(_events_count_min)


def _dedup_minhash_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """End-to-end cluster-level dedup: MinHash-LSH verified pairs →
    connected components → per-cluster summary (size + sorted member
    list). The full production dedup decision path in ONE plan: pairs
    alone over-delete ({A,B},{B,C} is one cluster of three), so the
    cluster roll-up — not the pair list — is what a curation pipeline
    acts on. Composition of two independently-oracled stages; the
    oracle nests both exact twins (MH pipeline CTEs + recursive-CTE
    components)."""
    pairs = _dedup_ops.minhash_lsh_pairs(_t(spark, sf, "documents"))
    return _cluster_rollup(_dedup_ops.duplicate_clusters(pairs), "n_docs", "docs")


_register(
    "dedup_minhash_clusters",
    f"""
    WITH RECURSIVE {_MH_PIPELINE_CTES},
    {_cc_ctes("verified")}
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list(doc_id ORDER BY doc_id), ' ') AS docs
    FROM labels GROUP BY 1
    """,
    doc="MinHash-LSH duplicate CLUSTERS [ext/dedup]: the end-to-end "
    "cluster-level dedup decision - LSH-banded candidates, exact "
    "Jaccard verification, min-label connected components, per-cluster "
    "size + sorted member list, all in one plan. Oracle nests the two "
    "proven twins (md5 MH pipeline + recursive-CTE transitive "
    "closure). Near-linear candidate generation; component rounds = "
    "cluster diameter (shallow for near-dup graphs).",
)(_dedup_minhash_clusters)


def _dedup_simhash_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """SimHash duplicate CLUSTERS: the cluster roll-up over the
    Hamming-banded pair graph — the constant-size-signature sibling of
    ``dedup_minhash_clusters`` (same CC + roll-up, different candidate
    generator), completing the cluster family: MinHash / SimHash /
    semantic. Composition of two independently-oracled stages."""
    pairs = _dedup_ops.simhash_pairs(_t(spark, sf, "documents")).select(
        "doc_a", "doc_b"
    )
    return _cluster_rollup(_dedup_ops.duplicate_clusters(pairs), "n_docs", "docs")


_register(
    "dedup_simhash_clusters",
    f"""
    WITH RECURSIVE sh_pairs AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ({_simhash_sql()})
    ),
    {_cc_ctes("sh_pairs")}
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
           array_to_string(list(doc_id ORDER BY doc_id), ' ') AS docs
    FROM labels GROUP BY 1
    """,
    doc="SimHash duplicate CLUSTERS [ext/dedup]: Hamming-banded "
    "candidate pairs (<=6 bit signature distance) -> min-label "
    "connected components -> per-cluster size + sorted member list - "
    "the constant-size-signature sibling of dedup_minhash_clusters, "
    "completing the cluster family (MinHash / SimHash / semantic). "
    "Oracle nests the proven SimHash replay inside the shared "
    "recursive-closure block.",
)(_dedup_simhash_clusters)


def _dataset_dedup_safe_split(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate CLUSTERS are
    the split unit, not documents — a plain hashed-doc split strands
    verbatim/near copies on both sides of the train/eval boundary,
    which is exactly the contamination dedup exists to prevent (Lee et
    al. 2022). Every doc splits by md5 of its cluster representative
    (its own id when unclustered), so whole duplicate groups move
    together and the assignment is version-stable like the plain split.
    Composition of the audited MinHash-cluster and hash-split stages.
    """
    docs = _t(spark, sf, "documents")
    pairs = _dedup_ops.minhash_lsh_pairs(docs)
    labels = _dedup_ops.duplicate_clusters(pairs)
    keyed = docs.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("group_key"),
    )
    return (
        _sampling.hash_split(keyed, "group_key")
        .select("doc_id", "group_key", "bucket", "split")
        .orderBy("doc_id")
    )


_register(
    "dataset_dedup_safe_split",
    f"""
    WITH RECURSIVE {_MH_PIPELINE_CTES},
    {_cc_ctes("verified")},
    keyed AS (
      SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS group_key
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
    b AS (
      SELECT doc_id, group_key,
             ('0x' || substr(md5('split:' || group_key), 1, 7))::BIGINT
               % {_sampling.N_BUCKETS} AS bucket
      FROM keyed)
    SELECT doc_id, group_key, bucket,
           CASE WHEN bucket < 9000 THEN 'train'
                WHEN bucket < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM b ORDER BY doc_id
    """,
    doc="Leakage-safe train/val/test split [ext/sampling/dedup]: "
    "near-duplicate clusters are the split unit (split by md5 of the "
    "cluster representative, own id when unclustered) so verbatim/near "
    "copies never straddle the train/eval boundary - the contamination "
    "hole a plain hashed-doc split leaves open. Composition of the "
    "audited MinHash-cluster and hash-split stages; version-stable "
    "like the plain split.",
)(_dataset_dedup_safe_split)


_register(
    "text_tfidf_knn",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    words AS (
      SELECT doc_id, w AS term
      FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm)
      WHERE length(w) > 0
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM words GROUP BY 1, 2),
    vocab AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
    wts AS (
      SELECT doc_id, term,
             CAST(ROUND(tf * LN(n_docs / df), 6) AS DECIMAL(18,6)) AS w
      FROM tf JOIN vocab USING (term), nd
    ),
    norms AS (
      -- one factor widened to DECIMAL(19,6): DuckDB multiplies two
      -- width<=18 decimals in INT64 with an overflow check, so w*w
      -- errors once w > ~3035 (internal 1e-6 units squared pass 2^63 —
      -- caught by the r8 long-doc probe at w=7493); (19,6) forces the
      -- INT128 kernel. Result (37,12) is exact on both engines (Spark's
      -- (18,6)x(18,6) -> (37,12) never hits its 38-digit reduction).
      SELECT doc_id, SQRT(CAST(SUM(CAST(w AS DECIMAL(19,6)) * w) AS DOUBLE)) AS nrm
      FROM wts GROUP BY 1
    ),
    qw AS (SELECT doc_id AS query_id, term, w AS qw FROM wts WHERE doc_id < 10),
    dots AS (
      SELECT q.query_id, d.doc_id,
             CAST(SUM(CAST(q.qw AS DECIMAL(19,6)) * d.w) AS DOUBLE) AS dot
      FROM wts d JOIN qw q USING (term)
      WHERE d.doc_id <> q.query_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT s.query_id, s.doc_id, s.dot / (qn.nrm * dn.nrm) AS cos
      FROM dots s
      JOIN norms qn ON qn.doc_id = s.query_id
      JOIN norms dn ON dn.doc_id = s.doc_id
    )
    SELECT query_id, doc_id AS neighbor_id, ROUND(cos, 4) AS cosine,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos DESC, doc_id) AS rnk FROM scored)
    WHERE rnk <= 5
    """,
    doc="Sparse TF-IDF cosine top-5 over an inverted index [ext/text]: "
    "the vector-space retrieval shape - documents meet only through "
    "shared terms (term-keyed index join, df-bounded fan-out, never "
    "all-pairs), the sparse complement to the dense similarity family. "
    "Weights round to the 1e-6 grid; DECIMAL(18,6) keeps products "
    "exactly representable (no precision-loss rounding), so dots and "
    "norms are bit-identical; unrounded cosine ranks with a "
    "neighbor_id tie-break. The checkpointed weight table IS the "
    "persisted index of a production deployment.",
)(
    lambda spark, sf: _text.tfidf_knn(_t(spark, sf, "documents"), F.col("doc_id") < 10)
)


from .operators.numeric import ratio_units as _runits  # noqa: E402
from .operators.numeric import attach_sqrt_ratio_round as _attach_sqrr  # noqa: E402
from .operators.numeric import sqrt_ratio_round_ctes as _sqrr_ctes  # noqa: E402
from .operators.numeric import ratio_units_sql as _runits_sql  # noqa: E402


_register(
    "events_bloom_prefilter",
    f"""
    WITH keyed AS (SELECT CAST(user_id AS BIGINT) AS key FROM events),
    members AS (SELECT DISTINCT key FROM keyed WHERE key < 40),
    bits AS (
      SELECT DISTINCT bit FROM (
        {" UNION ALL ".join(
          f"SELECT {_cm_cell_sql(j, 'key', 1024)} AS bit FROM members"
          for j in range(3)
        )}
      )
    ),
    probe_keys AS (SELECT DISTINCT key FROM keyed),
    probe_bits AS (
      {" UNION ALL ".join(
        f"SELECT key, {_cm_cell_sql(j, 'key', 1024)} AS bit FROM probe_keys"
        for j in range(3)
      )}
    ),
    hits AS (
      SELECT key FROM probe_bits JOIN bits USING (bit)
      GROUP BY key HAVING COUNT(*) = 3
    ),
    per_key AS (
      SELECT p.key,
             CASE WHEN h.key IS NULL THEN 0 ELSE 1 END AS passed,
             CASE WHEN m.key IS NULL THEN 0 ELSE 1 END AS is_member
      FROM probe_keys p
      LEFT JOIN hits h ON h.key = p.key
      LEFT JOIN members m ON m.key = p.key
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(is_member) AS BIGINT) AS n_members,
           CAST(SUM(passed) AS BIGINT) AS n_passed,
           CAST(SUM(CASE WHEN passed = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_positives,
           CAST(SUM(CASE WHEN passed = 0 AND is_member = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_negatives
    FROM per_key
    """,
    doc="Bloom-filter semi-join prefilter [ext/sketch]: md5-seeded "
    "1024-bit/3-hash filter over the user_id<40 member set, probed by "
    "every distinct user - build, probe, and exact false-positive "
    "accounting all oracle-checked (n_false_negatives provably 0). "
    "The mechanism behind runtime bloom pushdown made first-class: at "
    "100 TB the fact side tests n_bits broadcast bits BEFORE any "
    "shuffle toward a dim join.",
)(
    lambda spark, sf: _sketch.bloom_prefilter_report(
        _t(spark, sf, "events"), F.col("user_id"), F.col("user_id") < 40
    )
)


def _priority_segment_chi2(spark: SparkSession, sf: str) -> DataFrame:
    """Chi-square independence test of market segment × order priority —
    the basic statistical dependence screen over a contingency table.
    Every term is the exact integer ratio (obs·N − rt·ct)²/(N·rt·ct),
    rounded to 1e-6 UNITS and summed as integers (ratio_units), so the
    total is exact cross-engine — a float term sum would reintroduce
    order noise. All margin tables are dimension-sized."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("obs"))
        .localCheckpoint(eager=False)  # 3 consumers: margins ×2 + terms
    )
    rt = cells.groupBy("c_mktsegment").agg(F.sum("obs").alias("rt"))
    ct = cells.groupBy("o_orderpriority").agg(F.sum("obs").alias("ct"))
    tot = cells.agg(F.sum("obs").alias("n"))
    d = (
        F.col("obs") * F.col("n") - F.col("rt") * F.col("ct")
    ).cast("decimal(38,0)")
    terms = (
        cells.join(F.broadcast(rt), "c_mktsegment")
        .join(F.broadcast(ct), "o_orderpriority")
        .crossJoin(F.broadcast(tot))
        .select(
            _runits(
                d * d,
                (F.col("n") * F.col("rt") * F.col("ct")).cast("decimal(38,0)"),
                6,
            ).alias("t_units"),
            F.lit(1).alias("one"),
        )
    )
    return terms.agg(
        (F.sum("t_units").cast("double") / F.lit(1e6)).alias("chi2"),
        (F.count(F.lit(1))).alias("n_cells"),
    )


_register(
    "priority_segment_chi2",
    f"""
    WITH cells AS (
      SELECT c_mktsegment, o_orderpriority, COUNT(*) AS obs
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ),
    rt AS (SELECT c_mktsegment, SUM(obs) AS rt FROM cells GROUP BY 1),
    ct AS (SELECT o_orderpriority, SUM(obs) AS ct FROM cells GROUP BY 1),
    tot AS (SELECT SUM(obs) AS n FROM cells),
    terms AS (
      SELECT {_runits_sql(
          "CAST(obs * n - rt * ct AS HUGEINT) * CAST(obs * n - rt * ct AS HUGEINT)",
          "CAST(n AS HUGEINT) * rt * ct", 6)} AS t_units
      FROM cells
      JOIN rt USING (c_mktsegment)
      JOIN ct USING (o_orderpriority), tot
    )
    SELECT CAST(SUM(t_units) AS DOUBLE) / 1e6 AS chi2,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM terms
    """,
    doc="Chi-square independence screen [ext/analytics/stats]: segment x "
    "priority contingency table; each (obs*N-rt*ct)^2/(N*rt*ct) term "
    "rounds to exact 1e-6 INTEGER units and the total sums in integer "
    "space (ratio_units) - no float term sum to reorder. Margins are "
    "dimension-sized; the cell table checkpoints once for its three "
    "consumers.",
)(_priority_segment_chi2)


def _events_hourly_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    """Lag-1 autocorrelation of the hourly event-count series — the
    basic seasonality/trend screen. Pearson over (x_t, x_{t+1}) pairs
    with every sum an exact integer; r = num / sqrt(den1·den2) is a
    transcendental of bit-identical inputs (sqrt rule). The lead window
    runs over the HOURLY series (dimension-sized after the first
    aggregate), not raw events."""
    from pyspark.sql import Window as _W

    hours = (
        _t(spark, sf, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    w = _W.orderBy("h")
    pairs = hours.select(
        "x", F.lead("x").over(w).alias("y")
    ).filter(F.col("y").isNotNull())
    s = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    d1 = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    d2 = (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    # Perfect-square guard (review catch): when d1·d2 = k², r is a grid
    # QUOTIENT and ROUND(double) is exposed to half-grid ties — the
    # shared numeric.attach_sqrt_ratio_round handles both branches.
    return _attach_sqrr(s, num, d1, d2, 6, "r1").select(
        F.col("n").alias("n_pairs"), "r1"
    )


def _events_fano_burstiness(spark: SparkSession, sf: str) -> DataFrame:
    """Fano factor (index of dispersion, var/mean) of hourly event
    counts per event type over the type's OBSERVED hours — the
    burstiness screen (Poisson arrivals give F ≈ 1; bots/batch replays
    push F >> 1; throttled/heartbeat traffic pushes F << 1).

    Exactness: hourly counts are integers, so with n hours, S = Σc,
    Q = Σc², the factor F = var/mean = (n·Q − S²) / ((n−1)·n·mean) …
    = (n·Q − S²) / ((n−1)·S) is ONE exact integer ratio
    (numeric.ratio_round); NULL when n < 2. DECIMAL(38,0) numerator —
    n·Q brushes 2^63 near 1e5 hours of 1e7-count types.

    Scale shape: one map-side-combined groupBy(type, hour) then a
    |types·hours|-row second aggregate; |types| rows out.
    """
    ev = _t(spark, sf, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("c"))
    agg = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("q"),
    )
    n38 = F.col("n").cast("decimal(38,0)")
    num = (n38 * F.col("q") - F.col("s").cast("decimal(38,0)") * F.col("s")).cast(
        "decimal(38,0)"
    )
    den = ((n38 - 1) * F.col("s")).cast("decimal(38,0)")
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n_hours"),
        F.col("s").cast("long").alias("n_events"),
        F.when(F.col("n") > 1, ratio_round(num, den, 4)).alias("fano"),
    ).orderBy("event_type")


_register(
    "events_fano_burstiness",
    f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h, COUNT(*) AS c
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type, COUNT(*) AS n, SUM(c) AS s, SUM(c * c) AS q
      FROM hourly GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           CAST(s AS BIGINT) AS n_events,
           CASE WHEN n > 1 THEN {ratio_round_sql(
               "CAST(n AS HUGEINT) * q - CAST(s AS HUGEINT) * s",
               "(CAST(n AS HUGEINT) - 1) * s", 4)} END AS fano
    FROM agg ORDER BY event_type
    """,
    doc="Fano burstiness of hourly counts per event type "
    "[ext/timeseries]: index of dispersion var/mean over the type's "
    "observed hours - Poisson ~= 1, bots/batch replays >> 1, "
    "heartbeats << 1. ONE exact integer ratio (n*Q - S^2 over "
    "(n-1)*S), DECIMAL/HUGEINT internals, NULL below 2 hours; one "
    "map-side-combined (type, hour) aggregate then a grid-sized "
    "second pass.",
)(_events_fano_burstiness)


def _source_lang_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Shannon entropy (nats) of the language mix per source — the
    diversity column of a dataset card (a source collapsing to one
    language, or ballooning to noise, moves this before eyeballs catch
    it). H = Σ (c/n)·ln(n/c) computed the unigram_logprob/WoE way:
    each transcendental term ln(n/c) rounds to 1e-6 integer units
    (irrational except the harmless exact-0 of c = n, so no half-grid
    ties), weights and sums stay exact integers in DECIMAL, ONE
    ratio_round at output. One map-side-combined groupBy(source, lang)
    then a |sources·langs|-row pass; |sources| rows out."""
    docs = _t(spark, sf, "documents")
    sl = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = sl.groupBy("source").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_langs")
    )
    j = sl.join(tot, "source")
    term_u = F.round(
        F.ln(F.col("n").cast("double") / F.col("c").cast("double"))
        * F.lit(1_000_000.0)
    ).cast("long")
    agg = j.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.max("n_langs").alias("n_langs"),
        F.sum((F.col("c") * term_u).cast("decimal(38,0)")).alias("su"),
    )
    return agg.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_langs").cast("long").alias("n_langs"),
        ratio_round(
            F.col("su"),
            (F.col("n_docs").cast("decimal(38,0)") * F.lit(1_000_000)).cast(
                "decimal(38,0)"
            ),
            4,
        ).alias("lang_entropy"),
    ).orderBy("source")


_register(
    "source_lang_entropy",
    f"""
    WITH sl AS (
      SELECT source, lang, COUNT(*) AS c FROM documents GROUP BY 1, 2
    ),
    tot AS (
      SELECT source, SUM(c) AS n, COUNT(*) AS n_langs FROM sl GROUP BY 1
    ),
    terms AS (
      SELECT sl.source, tot.n, tot.n_langs,
             sl.c * CAST(ROUND(LN(CAST(tot.n AS DOUBLE)
                                   / CAST(sl.c AS DOUBLE)) * 1000000.0)
                         AS BIGINT) AS tu
      FROM sl JOIN tot USING (source)
    ),
    agg AS (
      SELECT source, MAX(n) AS n_docs, MAX(n_langs) AS n_langs,
             CAST(SUM(tu) AS HUGEINT) AS su
      FROM terms GROUP BY 1
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_langs AS BIGINT) AS n_langs,
           {ratio_round_sql("su", "CAST(n_docs AS HUGEINT) * 1000000", 4)}
             AS lang_entropy
    FROM agg ORDER BY source
    """,
    doc="Language-mix Shannon entropy per source [ext/text/datacard]: "
    "the diversity column of a dataset card - H = Sigma (c/n) ln(n/c) "
    "with each transcendental term rounded to 1e-6 units (irrational "
    "except the harmless exact 0 at c = n), exact integer weighting "
    "and sums, one ratio_round at output (the unigram_logprob/WoE "
    "idiom). Map-side-combined (source, lang) aggregate; |sources| "
    "rows out.",
)(_source_lang_entropy)


_register(
    "events_hourly_autocorr",
    f"""
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT x, LEAD(x) OVER (ORDER BY h) AS y FROM hours
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sx2, SUM(y * y) AS sy2
      FROM pairs WHERE y IS NOT NULL
    ),
{_sqrr_ctes("n * sxy - sx * sy", "n * sx2 - sx * sx",
                 "n * sy2 - sy * sy", 6, "s")}
    SELECT CAST(n AS BIGINT) AS n_pairs, r_rounded AS r1
    FROM _sqr
    """,
    doc="Lag-1 autocorrelation of hourly event counts [ext/analytics/"
    "stats]: Pearson over (x_t, x_t+1) with exact integer sums; r is a "
    "sqrt-transcendental of bit-identical inputs. The lead window runs "
    "over the hourly series (dimension-sized after aggregation), never "
    "raw events.",
)(_events_hourly_autocorr)


def _vocab_oov_rate(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source OOV rate against the corpus top-1000 vocabulary — the
    metric a tokenizer freeze is judged by (how much of each source
    falls outside the vocab). Token counts are exact integers; the rate
    is a grid quotient (ratio_round). The vocab is a TakeOrdered top-k
    over the word-count table, broadcast back; per-source totals are
    one map-side-combined shuffle each."""
    docs = _t(spark, sf, "documents")
    from .operators.dedup import _norm as _dnorm

    words = docs.select(
        "source", F.explode(F.split(_dnorm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") > 0)
    counts = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    vocab = (
        counts.orderBy(F.desc("c"), F.asc("w"))
        .limit(1000)
        .select("w", F.lit(1).alias("in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            ratio_round(F.col("n_oov"), F.col("n_tokens"), 6).alias("oov_rate"),
        )
    )


_register(
    "vocab_oov_rate",
    f"""
    WITH words AS (
      SELECT source, w
      FROM (SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS w
            FROM documents)
      WHERE length(w) > 0
    ),
    vocab AS (
      SELECT w FROM (SELECT w, COUNT(*) AS c FROM words GROUP BY 1)
      ORDER BY c DESC, w LIMIT 1000
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           {ratio_round_sql(
               "SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)",
               "COUNT(*)", 6)} AS oov_rate
    FROM words LEFT JOIN vocab v USING (w)
    GROUP BY 1
    """,
    doc="Per-source OOV rate vs the corpus top-1000 vocabulary "
    "[ext/text/tokenizer]: the tokenizer-freeze acceptance metric. "
    "Exact token counts, grid-quotient rate via ratio_round; the vocab "
    "is a map-side top-k broadcast back onto the token stream.",
)(_vocab_oov_rate)


def _daily_activity_recon(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER reconciliation of daily event activity vs daily order
    activity — days with events but no orders, orders but no events, or
    both, with both counts. The canonical two-system audit shape (and
    the registry's FULL OUTER join coverage; every other join type —
    inner/left/semi/anti — already has an entry). Both inputs aggregate
    to day granularity BEFORE the join, so the full outer runs on two
    dimension-sized tables."""
    ev = (
        _t(spark, sf, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    od = (
        _t(spark, sf, "orders")
        .groupBy(F.to_date("o_orderdate").alias("day"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return ev.join(od, "day", "full_outer").select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.when(F.col("n_events").isNull(), F.lit("orders_only"))
        .when(F.col("n_orders").isNull(), F.lit("events_only"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


_register(
    "daily_activity_recon",
    """
    WITH ev AS (SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events
                FROM events GROUP BY 1),
    od AS (SELECT CAST(o_orderdate AS DATE) AS day, COUNT(*) AS n_orders
           FROM orders GROUP BY 1)
    SELECT strftime(COALESCE(ev.day, od.day), '%Y-%m-%d') AS day,
           CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
           CAST(COALESCE(n_orders, 0) AS BIGINT) AS n_orders,
           CASE WHEN n_events IS NULL THEN 'orders_only'
                WHEN n_orders IS NULL THEN 'events_only'
                ELSE 'both' END AS status
    FROM ev FULL OUTER JOIN od USING (day)
    """,
    doc="FULL OUTER daily reconciliation of events vs orders "
    "[ext/analytics]: the two-system audit shape and the registry's "
    "full-outer join coverage. Both sides aggregate to day granularity "
    "before the join, so the full outer runs dimension-sized.",
)(_daily_activity_recon)


def _user_churn_sets(spark: SparkSession, sf: str) -> DataFrame:
    """Period-over-period user set algebra: users active in the first
    half of the event window vs the second half — retained (both),
    churned (first only), new (second only). Set semantics via
    anti/semi joins on DISTINCT user sets (INTERSECT/EXCEPT in the
    oracle); the midpoint derives from the data (min+max)/2 so the
    query is fixture-scale-free. Distinct sets are one shuffle each;
    the set ops run on dimension-sized inputs."""
    ev = _t(spark, sf, "events")
    # MICROSECOND epochs: unix_timestamp() truncates to whole seconds
    # while DuckDB's epoch() keeps fractions — a sub-second midpoint gap
    # would flip users between halves on one engine only (review catch:
    # it matched only because no fixture event fell in the gap). The
    # bounds row and both distinct user sets are small multi-consumer
    # results → lazy checkpoints (12 fact scans → 2 without them).
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).select(
        F.timestamp_micros(
            ((F.unix_micros("lo") + F.unix_micros("hi")) / 2).cast("long")
        ).alias("mid")
    ).localCheckpoint(eager=False)
    with_mid = ev.crossJoin(F.broadcast(bounds))
    first = (
        with_mid.filter(F.col("ts") < F.col("mid"))
        .select("user_id").distinct().localCheckpoint(eager=False)
    )
    second = (
        with_mid.filter(F.col("ts") >= F.col("mid"))
        .select("user_id").distinct().localCheckpoint(eager=False)
    )
    retained = first.join(second, "user_id", "leftsemi").withColumn(
        "status", F.lit("retained")
    )
    churned = first.join(second, "user_id", "left_anti").withColumn(
        "status", F.lit("churned")
    )
    new = second.join(first, "user_id", "left_anti").withColumn(
        "status", F.lit("new")
    )
    return (
        retained.unionByName(churned)
        .unionByName(new)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_register(
    "user_churn_sets",
    """
    WITH b AS (
      SELECT make_timestamp((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2) AS mid
      FROM events
    ),
    first AS (SELECT DISTINCT user_id FROM events, b WHERE ts < mid),
    second AS (SELECT DISTINCT user_id FROM events, b WHERE ts >= mid),
    labeled AS (
      SELECT 'retained' AS status, user_id
      FROM (SELECT user_id FROM first INTERSECT SELECT user_id FROM second)
      UNION ALL
      SELECT 'churned', user_id
      FROM (SELECT user_id FROM first EXCEPT SELECT user_id FROM second)
      UNION ALL
      SELECT 'new', user_id
      FROM (SELECT user_id FROM second EXCEPT SELECT user_id FROM first)
    )
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM labeled GROUP BY 1
    """,
    doc="Period-over-period user set algebra [ext/analytics]: retained/"
    "churned/new user counts across the event-window midpoint - "
    "INTERSECT/EXCEPT semantics via semi/anti joins on distinct "
    "dimension-sized user sets; the midpoint derives from the data so "
    "the split is scale-free.",
)(_user_churn_sets)


def _grouping_sets_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS revenue rollup: (segment), (priority),
    (segment, priority), and the grand total in ONE aggregate pass with
    ``grouping_id`` disambiguating the null-as-all levels — the
    multi-granularity form dashboards read without re-querying per
    level. Spark plans this as a single Expand + aggregate (one fact
    shuffle for all four granularities)."""
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    )
    # per-row cents then EXACT integer sum — the grand-total set sums the
    # whole fact table, where a double accumulation's error can cross
    # half a cent at ~10x this fixture (review catch); the per-row round
    # is tie-free (values ON the cents grid).
    row_cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cents_sum = F.sum(row_cents)
    return (
        j.groupingSets(
            [
                ["c_mktsegment"],
                ["o_orderpriority"],
                ["c_mktsegment", "o_orderpriority"],
                [],
            ],
            "c_mktsegment",
            "o_orderpriority",
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            (cents_sum.cast("double") / 100.0).alias("revenue"),
        )
        .select("c_mktsegment", "o_orderpriority", "gid", "n_orders", "revenue")
    )


_register(
    "grouping_sets_revenue",
    f"""
    SELECT c_mktsegment, o_orderpriority,
           CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
             / 100.0 AS revenue
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY GROUPING SETS ((c_mktsegment), (o_orderpriority),
                            (c_mktsegment, o_orderpriority), ())
    """,
    doc="GROUPING SETS revenue [ext/analytics/D]: four granularities "
    "(segment, priority, both, grand total) in ONE Expand+aggregate "
    "pass - one fact shuffle serves every rollup level; grouping_id "
    "disambiguates null-as-all rows. Cents-grid revenue sums.",
)(_grouping_sets_revenue)


#: Longest run of missing hours the gapfill will densify (7 days). A
#: gap longer than this is a series BREAK, not missing data: its hours
#: are omitted rather than zero-filled. This bound is what makes the
#: operator outlier-proof — the previous [min, max] spine built ONE
#: 70M-element array row when the degenerate year-9999 timestamp probe
#: landed (epoch-0..9999 span), OOM-killing the JVM; one corrupt
#: timestamp in 100 TB would do the same. Fixture gaps are ≤4 hours
#: (measured, all SFs), so the capped form is output-identical there.
GAPFILL_MAX_HOURS = 168


def _hourly_series_gapfill(spark: SparkSession, sf: str) -> DataFrame:
    """Hourly event series with bounded gap fill: observed hourly
    counts, plus zero-filled flagged rows for every missing hour inside
    a gap of ≤ GAPFILL_MAX_HOURS between consecutive observed hours —
    the dashboard idiom (a groupBy alone silently drops empty hours)
    without the unbounded [min, max] spine.

    Scale shape: per-gap explode of a ≤168-int epoch sequence — filler
    generation is distributed across the counts table instead of one
    driver-fed spine row, and a single corrupt far-out timestamp adds
    ONE unfilled break instead of a timespan-sized array. The lag
    window is unpartitioned but runs over the dimension-sized hour
    grid (the documented acceptable class)."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events")
    # ONE fact pass into the hour grid; two consumers (observed rows +
    # gap scan) -> lazy checkpoint.
    counts = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("h").alias("he"), "n_events")
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("he")
    fill = (
        counts.withColumn("prev", F.lag("he").over(w))
        .filter(
            F.col("prev").isNotNull()
            & (F.col("he") - F.col("prev") > 3600)
            & (
                F.col("he") - F.col("prev")
                <= 3600 * (GAPFILL_MAX_HOURS + 1)
            )
        )
        .select(
            F.explode(
                F.sequence(
                    F.col("prev") + 3600,
                    F.col("he") - 3600,
                    F.lit(3600),
                )
            ).alias("hour_ts")
        )
        .select(
            "hour_ts",
            F.lit(0).cast("long").alias("n_events"),
            F.lit(1).alias("is_gap"),
        )
    )
    obs = counts.select(
        F.col("he").alias("hour_ts"),
        "n_events",
        F.lit(0).alias("is_gap"),
    )
    return obs.unionByName(fill)


_register(
    "hourly_series_gapfill",
    f"""
    WITH counts AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS he,
             COUNT(*) AS n_events
      FROM events GROUP BY 1
    ),
    gaps AS (
      SELECT he, lag(he) OVER (ORDER BY he) AS prev FROM counts
    )
    SELECT he AS hour_ts, CAST(n_events AS BIGINT) AS n_events,
           0 AS is_gap
    FROM counts
    UNION ALL
    SELECT unnest(generate_series(prev + 3600, he - 3600, 3600))
             AS hour_ts,
           CAST(0 AS BIGINT) AS n_events, 1 AS is_gap
    FROM gaps
    WHERE prev IS NOT NULL AND he - prev > 3600
      AND he - prev <= 3600 * ({GAPFILL_MAX_HOURS} + 1)
    """,
    doc="Hourly series with BOUNDED gap fill [ext/analytics/G]: "
    "observed hourly counts plus zero-filled flagged rows for missing "
    "hours inside gaps of <= 168 h between consecutive observed hours; "
    "longer gaps are series breaks (hours omitted). Per-gap explode of "
    "a <=168-int sequence - distributed filler generation, no "
    "timespan-sized spine array, outlier-proof (the year-9999 "
    "degenerate probe OOM-killed the unbounded [min,max] form).",
)(_hourly_series_gapfill)


def _daily_click_purchase_corr(spark: SparkSession, sf: str) -> DataFrame:
    """Pearson correlation between daily click and purchase volumes —
    the engagement/conversion coupling metric. One fact aggregate to
    the daily grain, then exact-integer Pearson sums; the rounding goes
    through numeric.sqrt_ratio_round (rational when the denominator
    product is a perfect square — small integer day counts make that
    REACHABLE, unlike cents-scale sums)."""
    ev = _t(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
    )
    s = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    d1 = (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")).cast(
        "decimal(38,0)"
    )
    d2 = (F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")).cast(
        "decimal(38,0)"
    )
    return _attach_sqrr(s, num, d1, d2, 6, "r").select(
        F.col("n").alias("n_days"), "r"
    )


_register(
    "daily_click_purchase_corr",
    f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sx2, SUM(y * y) AS sy2
      FROM daily
    ),
{_sqrr_ctes("n * sxy - sx * sy", "n * sx2 - sx * sx", "n * sy2 - sy * sy", 6, "s")}
    SELECT CAST(n AS BIGINT) AS n_days, r_rounded AS r
    FROM _sqr
    """,
    doc="Daily click-purchase Pearson correlation [ext/analytics/stats]: "
    "exact integer sums over the daily grain; rounding via the shared "
    "perfect-square-guarded sqrt_ratio_round (small day counts make a "
    "rational denominator reachable).",
)(_daily_click_purchase_corr)


def _customer_trailing_spend(spark: SparkSession, sf: str) -> DataFrame:
    """Per-order trailing-7-day spend per customer — a RANGE BETWEEN
    interval window frame (the one frame type the registry lacked:
    rolling_time_features uses ROWS frames). The frame is defined on
    epoch seconds, sums run on exact cents, and the partition is
    per-customer (bounded at any corpus scale — never a global
    window)."""
    from pyspark.sql import Window as _W

    orders = _t(spark, sf, "orders")
    ts = F.unix_timestamp("o_orderdate")
    w = (
        _W.partitionBy("o_custkey")
        .orderBy(ts)
        .rangeBetween(-7 * 86400, 0)
    )
    price_cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        ts.alias("order_ts"),
        (F.sum(price_cents).over(w).cast("double") / 100.0).alias(
            "trailing_7d_spend"
        ),
        F.count(F.lit(1)).over(w).alias("n_orders_7d"),
    )


_register(
    "customer_trailing_7d_spend",
    """
    SELECT o_orderkey, o_custkey,
           CAST(epoch(o_orderdate) AS BIGINT) AS order_ts,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w
                AS DOUBLE) / 100.0 AS trailing_7d_spend,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_orders_7d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing-7-day spend per customer order [ext/analytics/E]: "
    "RANGE BETWEEN interval frame on epoch seconds (the frame type the "
    "ROWS-based rolling features don't cover), exact cents sums, "
    "per-customer partitions bounded at any scale.",
)(_customer_trailing_spend)


def _customer_order_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: the distribution of orders-per-customer,
    INCLUDING zero-order customers — a LEFT join so silent customers
    aren't dropped, then a histogram of the counts. Plan: one
    customer⋈orders join (customer broadcast at fixture scale, AQE
    decides at 100 TB), per-customer count, then a |distinct counts|-
    sized second aggregate."""
    cust = _t(spark, sf, "customer").select("c_custkey")
    orders = _t(spark, sf, "orders").select("o_custkey")
    per_cust = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.sum(F.col("o_custkey").isNotNull().cast("long")).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


_register(
    "customer_order_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey,
                 CAST(SUM(CASE WHEN o_custkey IS NULL THEN 0 ELSE 1 END)
                      AS BIGINT) AS c_count
          FROM customer LEFT JOIN orders ON o_custkey = c_custkey
          GROUP BY 1)
    GROUP BY 1
    """,
    doc="TPC-H Q13 shape (customer order distribution) [analytics]: "
    "orders-per-customer histogram with zero-order customers kept via "
    "the LEFT join; two-level aggregation, second level "
    "|distinct counts|-sized.",
)(_customer_order_distribution)


def _top_revenue_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the MAXIMUM quarterly
    revenue — ties all surface (the max is a 1-row broadcast compared
    against exact DECIMAL-grid revenue, so tie equality is exact, not
    float-fuzzy). One fact aggregate; everything after is
    supplier-dimension-sized."""
    lo = F.lit("1997-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1997-04-01 00:00:00").cast("timestamp")
    li = _t(spark, sf, "lineitem").filter(
        (F.col("l_shipdate") >= lo) & (F.col("l_shipdate") < hi)
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(_rev_term()).alias("total_rev")
    ).localCheckpoint(eager=False)  # 2 consumers: mx + the tie filter
    mx = rev.agg(F.max("total_rev").alias("mx"))
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey"),
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


_register(
    "top_revenue_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_REV_SQL}) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM rev JOIN supplier ON s_suppkey = l_suppkey
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
    doc="TPC-H Q15 shape (top supplier by quarterly revenue) "
    "[analytics]: the scalar max broadcasts back against EXACT "
    "DECIMAL-grid revenue, so the tie comparison is exact equality - "
    "all tied suppliers surface. One fact aggregate, then "
    "dimension-sized work.",
)(_top_revenue_supplier)


def _sole_blame_late_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers SOLELY responsible for a late
    multi-supplier order — per (order, supplier) late flags, per-order
    supplier/late-supplier counts, blame when late ∧ n_supp ≥ 2 ∧
    n_late = 1. The classic exists/not-exists pair re-expressed as TWO
    aggregates and a join-back (each map-side combined; no correlated
    subqueries, no row explosion). Top-10 by blame count."""
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late_flag = (
        F.col("l_shipdate")
        > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    ).cast("long")
    ps = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late_flag).alias("late"))
        # deliberately NOT checkpointed: ps is FACT-sized (the rule
        # scopes lazy checkpoints to small results) and both consumers
        # sit above the same groupBy exchange, which ReuseExchange
        # dedupes — only the cheap post-shuffle agg re-runs.
    )
    po = ps.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_supp"), F.sum("late").alias("n_late")
    )
    blamed = (
        ps.join(po, "l_orderkey")
        .filter(
            (F.col("late") == 1)
            & (F.col("n_supp") >= 2)
            & (F.col("n_late") == 1)
        )
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(10)
    )


_register(
    "sole_blame_late_suppliers",
    """
    WITH ps AS (
      SELECT l_orderkey, l_suppkey,
             MAX(CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                      THEN 1 ELSE 0 END) AS late
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      GROUP BY 1, 2
    ),
    po AS (SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
           FROM ps GROUP BY 1)
    SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM ps
    JOIN po USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE late = 1 AND n_supp >= 2 AND n_late = 1
    GROUP BY 1, 2
    ORDER BY numwait DESC, s_suppkey
    LIMIT 10
    """,
    doc="TPC-H Q21 shape (sole-blame late suppliers) [analytics]: the "
    "exists/not-exists pair as two map-side-combined aggregates + a "
    "join-back - no correlated subqueries; blame = late AND >=2 "
    "suppliers AND exactly one late. Top-10 with suppkey tie-break.",
)(_sole_blame_late_suppliers)


def _best_balance_supplier_per_part(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: the fixture has no partsupp cost, so
    the selection metric is max supplier account balance): for each
    size-15 part, the best-balance supplier that has shipped it — a
    per-part argmax via the agg-only ``max_by`` form (no window, the
    SURVEY §4 100 TB shape), tie → smallest suppkey via struct order.
    """
    part = _t(spark, sf, "part").filter(F.col("p_size") == 15).select(
        "p_partkey", "p_brand"
    )
    li = _t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    supp = _t(spark, sf, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    bal_cents = F.round(F.col("s_acctbal") * 100).cast("long")
    pairs = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_brand", "s_suppkey", "s_name",
                bal_cents.alias("bal_cents"))
        .distinct()
    )
    best = pairs.groupBy("p_partkey", "p_brand").agg(
        F.min_by(
            F.struct("s_suppkey", "s_name", "bal_cents"),
            F.struct(-F.col("bal_cents"), F.col("s_suppkey")),
        ).alias("b")
    )
    return best.select(
        "p_partkey",
        "p_brand",
        F.col("b.s_suppkey").alias("s_suppkey"),
        F.col("b.s_name").alias("s_name"),
        (F.col("b.bal_cents").cast("double") / 100.0).alias("s_acctbal"),
    )


_register(
    "best_balance_supplier_per_part",
    """
    WITH pairs AS (
      SELECT DISTINCT p_partkey, p_brand, s_suppkey, s_name,
             CAST(ROUND(s_acctbal * 100) AS BIGINT) AS bal_cents
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      WHERE p_size = 15
    )
    SELECT p_partkey, p_brand, s_suppkey, s_name,
           CAST(bal_cents AS DOUBLE) / 100.0 AS s_acctbal
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey
            ORDER BY bal_cents DESC, s_suppkey) AS rn FROM pairs)
    WHERE rn = 1
    """,
    doc="TPC-H Q2 shape (best supplier per part; balance as the cost "
    "proxy - the fixture has no partsupp) [analytics]: per-part argmax "
    "via agg-only min_by on a (-cents, suppkey) struct (no window - "
    "partial aggregation combines map-side; the oracle replays with "
    "ROW_NUMBER, identical tie semantics on exact cents).",
)(_best_balance_supplier_per_part)


def _events_ewma_hourly(spark: SparkSession, sf: str) -> DataFrame:
    """Exponentially-weighted moving average of hourly event value per
    type — the standard monitoring smoother, made cross-engine exact.

    alpha = 1/2 over the trailing K=6 OBSERVED hourly points (row-based
    lags on the per-type hourly series, so a gap hour shortens the tail
    instead of zero-filling it). Weights 2^(6-k) are exact binary
    integers, the hourly sums are exact cents, so the EWMA is one
    integer ratio -> ``ratio_round`` (a float 0.5^k accumulation would
    be order-sensitive AND its ties engine-divergent). The lag window
    runs over the hourly aggregate (|types x hours| rows at any scale),
    never raw events."""
    from pyspark.sql import Window as _W

    hours = (
        _t(spark, sf, "events")
        .groupBy(
            F.col("event_type"),
            F.date_trunc("hour", F.col("ts")).alias("h"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
    )
    w = _W.partitionBy("event_type").orderBy("h")
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for k in range(7):
        lagged = F.col("c") if k == 0 else F.lag("c", k).over(w)
        wt = 2 ** (6 - k)
        num = num + F.when(lagged.isNotNull(), lagged * wt).otherwise(0)
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(0)
    return (
        hours.select(
            "event_type",
            F.unix_millis(F.col("h")).alias("hour_ms"),
            (F.col("c").cast("double") / 100.0).alias("hourly_value"),
            ratio_round(num, den * 100, 4).alias("ewma_value"),
        )
        .orderBy("event_type", "hour_ms")
    )


_EWMA_NUM = " + ".join(
    f"(CASE WHEN lag_{k} IS NOT NULL THEN lag_{k} * {2 ** (6 - k)} "
    f"ELSE 0 END)"
    for k in range(7)
)
_EWMA_DEN = " + ".join(
    f"(CASE WHEN lag_{k} IS NOT NULL THEN {2 ** (6 - k)} ELSE 0 END)"
    for k in range(7)
)

_register(
    "events_ewma_hourly",
    f"""
    WITH hours AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS c
      FROM events GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, h, c,
             {', '.join(
                 ('c AS lag_0' if k == 0 else
                  f'LAG(c, {k}) OVER (PARTITION BY event_type ORDER BY h)'
                  f' AS lag_{k}')
                 for k in range(7)
             )}
      FROM hours
    )
    SELECT event_type, epoch_ms(h) AS hour_ms,
           CAST(c AS DOUBLE) / 100.0 AS hourly_value,
           {ratio_round_sql(_EWMA_NUM, f'({_EWMA_DEN}) * 100', 4)}
             AS ewma_value
    FROM lagged
    ORDER BY event_type, hour_ms
    """,
    doc="Hourly EWMA per event type [ext/analytics/timeseries]: "
    "alpha=1/2 over the 6 trailing observed hours as ONE exact integer "
    "ratio (binary 2^k weights x cents sums -> ratio_round; float "
    "0.5^k accumulation would be order-sensitive with engine-divergent "
    "ties). Lag window over the hourly aggregate, dimension-sized.",
)(_events_ewma_hourly)


def _part_copurchase_pagerank(spark: SparkSession, sf: str) -> DataFrame:
    """Top-20 parts by PageRank over the co-purchase graph (parts
    sharing an order). Deterministic INTEGER PageRank — see
    ``operators/graph.py``: exact 1e-12-unit scores, floor-division
    damping, so 3 fixed iterations are bit-identical cross-engine and
    the oracle replays them as unrolled CTEs (a float PageRank could
    never be hash-checked). Edge fan bounded by per-order part count;
    score table checkpointed per round."""
    from .operators.graph import copurchase_edges, pagerank_integer

    pr = pagerank_integer(copurchase_edges(_lineitem_1998(spark, sf)))
    return (
        pr.select(F.col("part").alias("l_partkey"), "pr_scaled")
        .orderBy(F.desc("pr_scaled"), F.asc("l_partkey"))
        .limit(20)
    )


def _pagerank_oracle_sql() -> str:
    scale = 10**12
    prev = "pr0"
    ctes = [
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem"
        " WHERE l_shipdate >= TIMESTAMP '1998-01-01')",
        """edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2)""",
        "outw AS (SELECT src, SUM(w) AS outw FROM edges GROUP BY 1)",
        "nodes AS (SELECT src AS part FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"pr0 AS (SELECT part, CAST({scale} AS BIGINT) // n AS pr "
        "FROM nodes CROSS JOIN nn)",
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        ctes.append(
            f"""it{i} AS (
      SELECT nodes.part,
             CAST({15 * scale} AS BIGINT) // (100 * nn.n)
               + (85 * COALESCE(s.insum, 0)) // 100 AS pr
      FROM nodes CROSS JOIN nn
      LEFT JOIN (
        SELECT e.dst, SUM((p.pr * e.w) // o.outw) AS insum
        FROM edges e
        JOIN outw o ON o.src = e.src
        JOIN {prev} p ON p.part = e.src
        GROUP BY e.dst
      ) s ON s.dst = nodes.part)"""
        )
        prev = f"it{i}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT part AS l_partkey, CAST(pr AS BIGINT) AS pr_scaled
    FROM {prev}
    ORDER BY pr_scaled DESC, l_partkey
    LIMIT 20
    """
    )


_register(
    "part_copurchase_pagerank",
    _pagerank_oracle_sql(),
    doc="Integer PageRank over the 1998+ part co-purchase graph [ext/"
    "analytics/graph]: 3 damped iterations in exact 1e-12-unit integer "
    "arithmetic (floor-division contributions and teleport), scores "
    "bit-identical cross-engine, oracle = fully unrolled CTEs. "
    "Per-iteration |edges| shuffle, checkpointed score/edge tables, "
    "edge fan bounded by per-order part counts.",
)(_part_copurchase_pagerank)


def _part_copurchase_ppr_expansion(spark: SparkSession, sf: str) -> DataFrame:
    """Top-30 parts by PERSONALIZED PageRank from the 10 highest-volume
    seed parts over the 1998+ co-purchase graph — the seed-set
    expansion a curation pipeline runs to grow a trusted corpus from
    known-good items. Teleport mass goes only to the seeds (split
    equally), so scores measure proximity to the seed set; same exact
    1e-12-unit integer arithmetic as ``part_copurchase_pagerank``
    (``operators/graph.py::ppr_integer``), so 3 fixed iterations are
    bit-identical cross-engine and the oracle replays them as unrolled
    CTEs. Seeds ranked by exact DECIMAL quantity sums (tie: partkey)."""
    from .operators.graph import copurchase_edges, ppr_integer

    # NOT checkpointed: the two consumers (edges, seed rank) prune to
    # DIFFERENT column sets — two filter-pushed scans are scan-speed at
    # any scale, while a shared checkpoint would spill a corpus
    # FRACTION to executor storage (the apply_cell_plan trade, same
    # verdict)
    li = _lineitem_1998(spark, sf)
    seeds = (
        li.groupBy("l_partkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .orderBy(F.desc("_q"), F.asc("l_partkey"))
        .limit(10)
        .select(F.col("l_partkey").alias("part"))
    )
    ppr = ppr_integer(copurchase_edges(li), seeds)
    return (
        ppr.select(F.col("part").alias("l_partkey"), "ppr_scaled", "is_seed")
        .orderBy(F.desc("ppr_scaled"), F.asc("l_partkey"))
        .limit(30)
    )


def _ppr_oracle_sql() -> str:
    scale = 10**12
    prev = "ppr0"
    ctes = [
        "lf AS MATERIALIZED (SELECT l_orderkey, l_partkey, l_quantity "
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1998-01-01')",
        "lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lf)",
        """pedges AS MATERIALIZED (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2)""",
        "poutw AS (SELECT src, SUM(w) AS outw FROM pedges GROUP BY 1)",
        """pseeds AS MATERIALIZED (
      SELECT l_partkey AS part FROM lf
      GROUP BY 1
      ORDER BY SUM(l_quantity) DESC, l_partkey
      LIMIT 10)""",
        "pns AS (SELECT COUNT(*) AS ns FROM pseeds)",
        """pflg AS MATERIALIZED (
      SELECT n.part, CASE WHEN s.part IS NOT NULL THEN 1 ELSE 0 END AS is_seed
      FROM (SELECT src AS part FROM pedges
            UNION SELECT dst FROM pedges
            UNION SELECT part FROM pseeds) n
      LEFT JOIN pseeds s ON s.part = n.part)""",
        f"""ppr0 AS (
      SELECT part, is_seed,
             CASE WHEN is_seed = 1 THEN CAST({scale} AS BIGINT) // ns
                  ELSE 0 END AS pr
      FROM pflg CROSS JOIN pns)""",
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        ctes.append(
            f"""pit{i} AS (
      SELECT f.part, f.is_seed,
             CASE WHEN f.is_seed = 1
                  THEN CAST({15 * scale} AS BIGINT) // (100 * pns.ns)
                  ELSE 0 END
               + (85 * COALESCE(s.insum, 0)) // 100 AS pr
      FROM pflg f CROSS JOIN pns
      LEFT JOIN (
        SELECT e.dst, SUM((p.pr * e.w) // o.outw) AS insum
        FROM pedges e
        JOIN poutw o ON o.src = e.src
        JOIN {prev} p ON p.part = e.src
        GROUP BY e.dst
      ) s ON s.dst = f.part)"""
        )
        prev = f"pit{i}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT part AS l_partkey, CAST(pr AS BIGINT) AS ppr_scaled, is_seed
    FROM {prev}
    ORDER BY ppr_scaled DESC, l_partkey
    LIMIT 30
    """
    )


_register(
    "part_copurchase_ppr_expansion",
    _ppr_oracle_sql(),
    doc="Personalized-PageRank seed expansion over the 1998+ part "
    "co-purchase graph [ext/analytics/graph]: teleport mass only to "
    "the 10 highest-volume seed parts (exact DECIMAL quantity rank, "
    "partkey tie-break), 3 damped iterations in exact 1e-12-unit "
    "integer arithmetic - the curation primitive that grows a trusted "
    "set from known-good seeds by graph proximity. Scores "
    "bit-identical cross-engine; oracle = fully unrolled CTEs. Scale: "
    "per-iteration |edges| shuffle, checkpointed score/edge/seed "
    "tables, node spine carries the seed flag once.",
)(_part_copurchase_ppr_expansion)


def _embedding_dim_covariance(spark: SparkSession, sf: str) -> DataFrame:
    """Top-30 most-covariant dimension pairs of the embedding corpus —
    the redundancy screen run before whitening/PCA or dimension
    pruning. Exact integer pipeline: 1e-6-unit floor quantization →
    per-Arrow-batch partial Gram (map-side combine; one O(batches·D²)
    shuffle) → n·S_ij − S_i·S_j in DECIMAL(38,0). Ranking uses |num|
    (den is pair-constant), so the top-30 cut is an exact integer
    order; cov itself renders via ratio_round. See
    ``operators/similarity.py::dim_covariance_pairs``."""
    from .operators.similarity import dim_covariance_pairs

    emb = _t(spark, sf, "embeddings")
    cov = dim_covariance_pairs(emb)
    return (
        cov.orderBy(
            F.abs(F.col("num")).desc(), F.asc("dim_i"), F.asc("dim_j")
        )
        .limit(30)
        .select(
            "dim_i",
            "dim_j",
            ratio_round(F.col("num"), F.col("den"), 6).alias("cov"),
        )
    )


_register(
    "embedding_dim_covariance",
    f"""
    WITH comps AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                  AS BIGINT) AS q
      FROM embeddings
    ),
    sums AS (
      SELECT dim, CAST(SUM(q) AS HUGEINT) AS s FROM comps GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM embeddings),
    pairs AS (
      SELECT a.dim AS dim_i, b.dim AS dim_j,
             CAST(SUM(a.q * b.q) AS HUGEINT) AS sij
      FROM comps a JOIN comps b
        ON a.vec_id = b.vec_id AND a.dim < b.dim
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT dim_i, dim_j,
             n * sij - sa.s * sb.s AS num,
             n * n * CAST(1000000000000 AS HUGEINT) AS den
      FROM pairs
      JOIN sums sa ON sa.dim = dim_i
      JOIN sums sb ON sb.dim = dim_j
      CROSS JOIN nn
    )
    SELECT dim_i, dim_j, {ratio_round_sql('num', 'den', 6)} AS cov
    FROM cov
    ORDER BY abs(num) DESC, dim_i, dim_j
    LIMIT 30
    """,
    doc="Top-30 covariant embedding-dimension pairs [ext/similarity/"
    "stats]: exact integer covariance via floor-quantized components "
    "and a partial-Gram Arrow map stage (each batch emits D^2/2 "
    "partial sums - the shuffle moves O(batches*D^2) rows, never the "
    "corpus). |num| ranking is an exact integer order; den is "
    "pair-constant n^2*1e12.",
)(_embedding_dim_covariance)


def _tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    """Tokenizer fertility (BPE-ish tokens per whitespace word) per
    (lang, source) — the metric that decides whether a tokenizer is
    retrained for a language mix. ONE corpus scan: the token-count
    expressions evaluate in the scan stage and partial-aggregate into
    the (lang, source) grid (review catch: the first cut joined
    token_counts back on doc_id — a second scan + corpus-sized
    shuffle). Fertility is a ratio of exact integer sums ->
    ratio_round."""
    return _text.tokenizer_fertility(_t(spark, sf, "documents"))


_register(
    "tokenizer_fertility",
    f"""
    WITH counts AS (
      SELECT doc_id,
             len(string_split(t, ' ')) AS ws_tokens,
             len(regexp_extract_all(t, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
               AS bpe_tokens
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    )
    SELECT d.lang, d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c.ws_tokens) AS BIGINT) AS ws_total,
           CAST(SUM(c.bpe_tokens) AS BIGINT) AS bpe_total,
           {ratio_round_sql('SUM(c.bpe_tokens)', 'SUM(c.ws_tokens)', 4)}
             AS fertility
    FROM counts c JOIN documents d USING (doc_id)
    GROUP BY 1, 2
    """,
    doc="Tokenizer fertility per (lang, source) [ext/text/pipeline]: "
    "BPE-ish tokens per whitespace word as an exact integer ratio "
    "(ratio_round - integer-sum quotients can land on the half-grid). "
    "One corpus pass, partial aggregation into the small grid.",
)(_tokenizer_fertility)


def _text_compression_audit(spark: SparkSession, sf: str) -> DataFrame:
    """zlib compressibility emitted as a per-doc AUDIT (VERDICT r6 item
    6): the compressed size is zlib-internal (no SQL twin), but the raw
    byte count is exactly replayable and zlib's worst-case expansion is
    a hard bound (stored-block overhead: ~5 bytes/16 KiB block + header;
    checked here at the generous raw/1000 + 64). The oracle replays
    raw_bytes and asserts the bound; ratio values, the repetitive flag,
    and repetitive<prose ordering stay pytest-pinned
    (tests/test_round5_ops.py). Same zero-shuffle Arrow map plan."""
    sig = _text.compression_signals(_t(spark, sf, "documents"))
    bound = (
        F.col("raw_bytes")
        + F.floor(F.col("raw_bytes") / 1000)
        + F.lit(64)
    )
    return sig.select(
        "doc_id",
        "raw_bytes",
        (
            (F.col("compressed_bytes") > 0)
            & (F.col("compressed_bytes") <= bound)
            & (F.col("compression_ratio") > 0)
        ).alias("zlib_ok"),
    )


_register(
    "text_compression_signals",
    """
    SELECT doc_id,
           CAST(COALESCE(octet_length(encode(text)), 0) AS BIGINT)
             AS raw_bytes,
           TRUE AS zlib_ok
    FROM documents
    """,
    doc="zlib compressibility quality signal [ext/text/pipeline]: "
    "compressed/raw byte ratio per doc (Gopher-family filter) via an "
    "Arrow mapInPandas map stage - zero shuffles. Driver-facing "
    "projection is the AUDIT form (exact raw bytes + worst-case-"
    "expansion bound boolean, full oracle); pytest pins the "
    "repetitive<prose ordering, ratio bounds, and exact integer "
    "rounding semantics of the raw surface (text.compression_signals).",
)(_text_compression_audit)


def _events_cusum_drift(spark: SparkSession, sf: str) -> DataFrame:
    """CUSUM drift statistic over the hourly event-count series — the
    classic change-point screen (has the event rate shifted from its
    long-run mean, and when?). S_t = sum_{i<=t}(x_i − mean) stays in
    exact integer space as n·S_t = sum_{i<=t}(n·x_i − total): the mean
    is never materialized as a float (a count/count grid quotient).
    The hourly table has TWO consumers (scalar stats + running sum) →
    lazily checkpointed; the running-sum window is single-partition but
    runs over the HOURLY series, dimension-sized at any scale."""
    from pyspark.sql import Window as _W

    hours = (
        _t(spark, sf, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)
    )
    stats = hours.agg(
        F.sum("x").alias("total"), F.count(F.lit(1)).alias("n")
    )
    w = _W.orderBy("h").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    return (
        hours.crossJoin(F.broadcast(stats))
        .withColumn(
            "ns", F.sum(F.col("x") * F.col("n") - F.col("total")).over(w)
        )
        .select(
            F.unix_millis(F.col("h")).alias("hour_ms"),
            "x",
            F.col("ns").alias("cusum_scaled"),
            ratio_round(F.col("ns"), F.col("n"), 4).alias("cusum"),
        )
        .orderBy("hour_ms")
    )


_register(
    "events_cusum_drift",
    f"""
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    s AS (SELECT SUM(x) AS total, COUNT(*) AS n FROM hours),
    c AS (
      SELECT h, x,
             SUM(x * n - total) OVER (ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ns,
             n
      FROM hours CROSS JOIN s
    )
    SELECT epoch_ms(h) AS hour_ms, CAST(x AS BIGINT) AS x,
           CAST(ns AS BIGINT) AS cusum_scaled,
           {ratio_round_sql('ns', 'n', 4)} AS cusum
    FROM c ORDER BY hour_ms
    """,
    doc="CUSUM change-point statistic on hourly event counts [ext/"
    "analytics/timeseries]: n-scaled integer cumulative deviations "
    "(the mean never materializes as a float grid quotient), "
    "checkpointed hourly table with two consumers, running-sum window "
    "over the dimension-sized hourly series.",
)(_events_cusum_drift)


def _monthly_seasonal_index(spark: SparkSession, sf: str) -> DataFrame:
    """Classical seasonal index of monthly order revenue: each month's
    share of the all-months average (index 1.0 = typical month). Both
    the monthly sums and the global average live on exact grids: index
    = cents_m · n_months / total_cents is ONE integer ratio →
    ratio_round (the global mean is a grid quotient — comparing or
    dividing by its float would tie engine-divergently). The monthly
    table has two consumers (stats + index) → checkpointed; everything
    after the first aggregate is dimension-sized."""
    monthly = (
        _t(spark, sf, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("m"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            ),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .localCheckpoint(eager=False)
    )
    stats = monthly.agg(
        F.sum("cents").alias("total_cents"),
        F.count(F.lit(1)).alias("n_months"),
    )
    return (
        monthly.crossJoin(F.broadcast(stats))
        .select(
            F.unix_millis(F.col("m")).alias("month_ms"),
            "n_orders",
            (F.col("cents").cast("double") / 100.0).alias("revenue"),
            ratio_round(
                F.col("cents") * F.col("n_months"), F.col("total_cents"), 4
            ).alias("seasonal_index"),
        )
        .orderBy("month_ms")
    )


_register(
    "monthly_seasonal_index",
    f"""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents,
             COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    ),
    s AS (SELECT SUM(cents) AS total_cents, COUNT(*) AS n_months
          FROM monthly)
    SELECT epoch_ms(m) AS month_ms,
           CAST(n_orders AS BIGINT) AS n_orders,
           CAST(cents AS DOUBLE) / 100.0 AS revenue,
           {ratio_round_sql('cents * n_months', 'total_cents', 4)}
             AS seasonal_index
    FROM monthly CROSS JOIN s
    ORDER BY month_ms
    """,
    doc="Monthly seasonal index of order revenue [ext/analytics/"
    "timeseries]: month revenue over the all-months mean as ONE exact "
    "integer ratio (cents*n_months/total_cents via ratio_round), "
    "checkpointed monthly aggregate with two consumers.",
)(_monthly_seasonal_index)


def _parts_abc_classes(spark: SparkSession, sf: str) -> DataFrame:
    """ABC / Pareto inventory classification: rank parts by revenue,
    class A = first 80% of cumulative revenue, B = next 15%, C = tail.

    The class cuts are exact integer inequalities on cents-grid sums
    (cum_units·100 <= total_units·80) — a float cumulative share would
    be a grid quotient whose boundary parts flip class per engine. The
    rank/cumsum windows run over the PER-PART aggregate (dimension-
    sized), never the fact table; the per-part table is checkpointed
    for its two consumers (scalar total + window pass)."""
    from pyspark.sql import Window as _W

    per_part = (
        _t(spark, sf, "lineitem")
        .groupBy("l_partkey")
        .agg(F.sum((_rev_term() * 10000).cast("long")).alias("units"))
        .localCheckpoint(eager=False)
    )
    total = per_part.agg(F.sum("units").alias("total_units"))
    w = _W.orderBy(F.desc("units"), F.asc("l_partkey")).rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    ranked = (
        per_part.crossJoin(F.broadcast(total))
        .withColumn("cum_units", F.sum("units").over(w))
        .withColumn(
            "abc_class",
            F.when(
                F.col("cum_units") * 100 <= F.col("total_units") * 80, "A"
            )
            .when(
                F.col("cum_units") * 100 <= F.col("total_units") * 95, "B"
            )
            .otherwise("C"),
        )
    )
    return ranked.groupBy("abc_class").agg(
        F.count(F.lit(1)).alias("n_parts"),
        (F.sum("units").cast("double") / 10000.0).alias("revenue"),
    )


_register(
    "parts_abc_classes",
    f"""
    WITH pp AS (
      SELECT l_partkey,
             SUM(CAST({_REV_SQL} * 10000 AS BIGINT)) AS units
      FROM lineitem GROUP BY 1
    ),
    tot AS (SELECT SUM(units) AS total_units FROM pp),
    ranked AS (
      SELECT units, total_units,
             SUM(units) OVER (ORDER BY units DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_units
      FROM pp CROSS JOIN tot
    )
    SELECT CASE WHEN cum_units * 100 <= total_units * 80 THEN 'A'
                WHEN cum_units * 100 <= total_units * 95 THEN 'B'
                ELSE 'C' END AS abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(units) AS DOUBLE) / 10000.0 AS revenue
    FROM ranked GROUP BY 1
    """,
    doc="ABC/Pareto revenue classification of parts [ext/analytics]: "
    "cumulative-share class cuts as exact integer inequalities "
    "(cum*100 <= total*80 on 1e-4 revenue units - float shares would "
    "flip boundary parts per engine), rank/cumsum windows over the "
    "dimension-sized per-part aggregate, checkpointed for its two "
    "consumers.",
)(_parts_abc_classes)


_register(
    "dataset_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                  1, 7)) AS BIGINT) AS m_units,
             ln((CAST(('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
                                      1, 7)) AS BIGINT) + 0.5)
                / 268435456.0)
               / CAST(n_chars AS DOUBLE) AS k
      FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, m_units
    FROM keyed
    ORDER BY k DESC, doc_id
    LIMIT 50
    """,
    doc="Weighted sample without replacement [ext/sampling]: "
    "Efraimidis-Spirakis exponential keys ln(u)/w from md5-derived "
    "dyadic uniforms (deterministic, replayable), length-weighted "
    "top-50 via per-partition TakeOrderedAndProject - no global sort. "
    "The transcendental key SELECTS but is never emitted (libm ulp "
    "divergence flipped its ROUND(.,6) on the r7 driver host); the "
    "hashed surface is exact integers, and the rank-50 key gap is "
    "~1e13 ulps (tests/test_sampling_boundary.py). "
    "See operators/sampling.py::weighted_sample_topk.",
)(
    lambda spark, sf: _sampling.weighted_sample_topk(
        _t(spark, sf, "documents"), "doc_id", "n_chars"
    )
)


def _supplier_leadtime_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Fulfillment lead time (ship date − order date, days) percentiles
    per supplier nation — the ops SLA view. One fact-fact join
    (lineitem ⋈ orders on the order key) with both scans pruned to the
    join+measure columns; the day deltas are exact integers, so the
    interpolated percentiles land on the 1/100-day grid (5th decimal 0
    — the price_percentiles tie-safety argument) and the per-nation
    aggregate is dimension-sized."""
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    orders = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    supp = _t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = _t(spark, sf, "nation").select("n_nationkey", "n_name")
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("n_name", days.alias("lead_days"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_shipments"),
            F.min("lead_days").alias("min_days"),
            F.round(F.percentile("lead_days", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("lead_days", F.lit(0.9)), 4).alias("p90"),
            F.max("lead_days").alias("max_days"),
        )
    )


_register(
    "supplier_leadtime_profile",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_shipments,
           CAST(MIN(datediff('day', o_orderdate, l_shipdate)) AS INTEGER)
             AS min_days,
           ROUND(quantile_cont(datediff('day', o_orderdate, l_shipdate),
                               0.5), 4) AS p50,
           ROUND(quantile_cont(datediff('day', o_orderdate, l_shipdate),
                               0.9), 4) AS p90,
           CAST(MAX(datediff('day', o_orderdate, l_shipdate)) AS INTEGER)
             AS max_days
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY 1
    """,
    doc="Lead-time percentiles per supplier nation [ext/analytics]: "
    "ship-order day deltas (exact integers) through one fact-fact "
    "join with pruned scans + broadcast dims; interpolated p50/p90 on "
    "the 1/100-day grid (5th decimal 0, tie-free).",
)(_supplier_leadtime_profile)


_BINPACK_SQL = """
    binc AS (
      SELECT vec_id,
             SUM(CASE WHEN dim < 32 AND x > 0
                      THEN (CAST(1 AS BIGINT) << dim) ELSE 0 END)
               AS b_lo,
             SUM(CASE WHEN dim >= 32 AND x > 0
                      THEN (CAST(1 AS BIGINT) << (dim - 32)) ELSE 0 END)
               AS b_hi
      FROM (
        SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
               unnest(embedding) AS x
        FROM embeddings
      )
      GROUP BY vec_id
    )"""


def _cos_topk_sql(cutoff: int, k: int, out: str) -> str:
    """Shared DuckDB twin of ``similarity.brute_force_topk``: queries =
    vec_id < cutoff, exact-cosine ranking (DESC, vec_id tie-break),
    top-k per query with the rank exposed. ONE copy of the ranking SQL
    for every twin that replays the exact retriever."""
    return f"""ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
           FROM embeddings),
    cq AS (SELECT vec_id AS query_id, emb AS q_emb FROM ce
           WHERE vec_id < {cutoff}),
    {out} AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT cq.query_id, ce.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY cq.query_id
                 ORDER BY {_COS_SQL.format(a="cq.q_emb", b="ce.emb")} DESC,
                          ce.vec_id) AS rnk
        FROM ce, cq WHERE ce.vec_id <> cq.query_id
      ) WHERE rnk <= {k}
    )"""


def _hamming_topk_sql(cutoff: int, k: int, out: str) -> str:
    """Shared DuckDB twin of ``operators/quantize.py::hamming_topk``:
    queries = vec_id < cutoff, xor+bit_count Hamming distance over the
    ``binc`` packed codes, (distance asc, vec_id) tie-break, top-k per
    query. ONE copy so the tie-break/bit-packing can never silently
    diverge between the twins that replay the retriever."""
    return f"""hq AS (SELECT vec_id AS query_id, b_lo AS q_lo, b_hi AS q_hi
           FROM binc WHERE vec_id < {cutoff}),
    {out} AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT hq.query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY hq.query_id
                 ORDER BY bit_count(xor(c.b_lo, hq.q_lo))
                          + bit_count(xor(c.b_hi, hq.q_hi)) ASC,
                          c.vec_id) AS rnk
        FROM binc c, hq WHERE c.vec_id <> hq.query_id
      ) WHERE rnk <= {k}
    )"""


_register(
    "embedding_binary_codes",
    f"""
    WITH {_BINPACK_SQL}
    SELECT vec_id, CAST(b_lo AS BIGINT) AS b_lo, CAST(b_hi AS BIGINT) AS b_hi
    FROM binc
    """,
    doc="1-bit sign quantization [ext/similarity]: 64 sign bits packed "
    "as two 32-bit integer halves (8 bytes/vec, the rung below PQ) via "
    "an Arrow map stage, zero shuffles; [x>0] is an exact float32 "
    "comparison, so the pack is unconditionally bit-identical "
    "cross-engine. operators/quantize.py::binary_codes.",
)(lambda spark, sf: _quant.binary_codes(_t(spark, sf, "embeddings")))


_register(
    "similarity_topk_hamming",
    f"""
    WITH {_BINPACK_SQL},
    q AS (SELECT vec_id AS query_id, b_lo AS q_lo, b_hi AS q_hi
          FROM binc WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             bit_count(xor(c.b_lo, q.q_lo))
               + bit_count(xor(c.b_hi, q.q_hi)) AS hamming
      FROM binc c, q WHERE c.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, CAST(hamming AS INTEGER) AS hamming,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY hamming ASC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= 5
    """,
    doc="Hamming top-5 over binary sign codes [ext/similarity]: the "
    "coarse pass of a binary-sketch -> exact-rerank ANN pipeline; "
    "xor + bit_count on packed halves - the one ANN ranking with NO "
    "float anywhere (unconditional oracle match). Query side filtered "
    "pre-broadcast; corpus side is the 8-byte code table. "
    "operators/quantize.py::hamming_topk.",
)(
    lambda spark, sf: _quant.hamming_topk(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10, k=5
    )
)


def _data_quality_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Constraint-check suite over the warehouse — the validation gate
    every ingest pipeline runs: referential integrity (anti-join orphan
    counts), domain checks (non-positive totals, null measures),
    emptiness, key uniqueness, and date-range sanity. One row per
    check, ``ok = violations == 0``.

    Scan economy (review catch — the first cut re-scanned lineitem and
    orders once per check): each table's domain checks AND its total
    fold into ONE conditional aggregate, lazily checkpointed where two
    check rows consume it; only the referential probes add a second
    key-projected scan (the anti join needs rows, not counts). Every
    count is exact, so the oracle match is unconditional."""
    li = _t(spark, sf, "lineitem")
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    events = _t(spark, sf, "events")
    docs = _t(spark, sf, "documents")

    # One aggregate per table: total + domain violations in a single
    # scan; the stats rows feed two check rows each → checkpoint.
    li_stats = li.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            F.when(
                (
                    F.col("l_shipdate")
                    < F.lit("1990-01-01 00:00:00").cast("timestamp")
                )
                | (
                    F.col("l_shipdate")
                    >= F.lit("2005-01-01 00:00:00").cast("timestamp")
                ),
                1,
            ).otherwise(0)
        ).alias("shipdate_violations"),
    ).localCheckpoint(eager=False)
    orders_stats = orders.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_violations"
        ),
    ).localCheckpoint(eager=False)

    def _row(name, agg_df):
        return agg_df.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
            F.col("total").cast("long").alias("total"),
        )

    parts = [
        _row(
            "lineitem_orphan_orderkey",
            li.select("l_orderkey")
            .join(
                orders.select("o_orderkey"),
                F.col("l_orderkey") == F.col("o_orderkey"),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("violations"))
            .crossJoin(F.broadcast(li_stats.select("total"))),
        ),
        _row(
            "orders_orphan_custkey",
            orders.select("o_custkey")
            .join(
                cust.select("c_custkey"),
                F.col("o_custkey") == F.col("c_custkey"),
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("violations"))
            .crossJoin(F.broadcast(orders_stats.select("total"))),
        ),
        _row(
            "orders_nonpositive_total",
            orders_stats.select(
                F.col("nonpositive_violations").alias("violations"), "total"
            ),
        ),
        _row(
            "events_null_value",
            events.agg(
                F.sum(
                    F.when(F.col("value").isNull(), 1).otherwise(0)
                ).alias("violations"),
                F.count(F.lit(1)).alias("total"),
            ),
        ),
        _row(
            "documents_empty_text",
            docs.agg(
                F.sum(
                    F.when(
                        F.col("text").isNull()
                        | (F.length(F.trim(F.col("text"))) == 0),
                        1,
                    ).otherwise(0)
                ).alias("violations"),
                F.count(F.lit(1)).alias("total"),
            ),
        ),
        _row(
            "customer_duplicate_keys",
            cust.agg(
                (F.count(F.lit(1)) - F.countDistinct("c_custkey")).alias(
                    "violations"
                ),
                F.count(F.lit(1)).alias("total"),
            ),
        ),
        _row(
            "lineitem_shipdate_range",
            li_stats.select(
                F.col("shipdate_violations").alias("violations"), "total"
            ),
        ),
    ]
    out = parts[0]
    for p_ in parts[1:]:
        out = out.unionByName(p_)
    return out.select(
        "check_name",
        "violations",
        "total",
        (F.col("violations") == 0).alias("ok"),
    ).orderBy("check_name")


_register(
    "data_quality_audit",
    """
    WITH raw AS (
      SELECT 'lineitem_orphan_orderkey' AS check_name,
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o
                                WHERE o.o_orderkey = l.l_orderkey))
               AS violations,
             (SELECT COUNT(*) FROM lineitem) AS total
      UNION ALL
      SELECT 'orders_orphan_custkey',
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c
                                WHERE c.c_custkey = o.o_custkey)),
             (SELECT COUNT(*) FROM orders)
      UNION ALL
      SELECT 'orders_nonpositive_total',
             (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0),
             (SELECT COUNT(*) FROM orders)
      UNION ALL
      SELECT 'events_null_value',
             (SELECT COUNT(*) FROM events WHERE value IS NULL),
             (SELECT COUNT(*) FROM events)
      UNION ALL
      SELECT 'documents_empty_text',
             (SELECT COUNT(*) FROM documents
              WHERE text IS NULL OR length(trim(text, ' ')) = 0),
             (SELECT COUNT(*) FROM documents)
      UNION ALL
      SELECT 'customer_duplicate_keys',
             (SELECT COUNT(*) - COUNT(DISTINCT c_custkey) FROM customer),
             (SELECT COUNT(*) FROM customer)
      UNION ALL
      SELECT 'lineitem_shipdate_range',
             (SELECT COUNT(*) FROM lineitem
              WHERE l_shipdate < TIMESTAMP '1990-01-01'
                 OR l_shipdate >= TIMESTAMP '2005-01-01'),
             (SELECT COUNT(*) FROM lineitem)
    )
    SELECT check_name, CAST(violations AS BIGINT) AS violations,
           CAST(total AS BIGINT) AS total, violations = 0 AS ok
    FROM raw ORDER BY check_name
    """,
    doc="Data-quality constraint suite [ext/pipeline]: referential "
    "integrity via key-projected anti joins, domain/null/emptiness/"
    "uniqueness/date-range checks as single-scan conditional counts, "
    "one row per check with ok = violations=0. Exact counts -> "
    "unconditional oracle match.",
)(_data_quality_audit)


#: Shared core of the two-pass bucket order-statistic family
#: (orders_exact_median_scalable, orders_trimmed_mean_scalable,
#: orders_winsorized_stats): ONE bucket width and ONE cents-bucket
#: expression — the constants whose silent divergence across the three
#: copies would corrupt every rank-locate step. The flows themselves
#: differ (1 vs 2 ranks; values vs partial tail sums) and stay local.
_OS_BUCKET = 10000


def _os_bucket_col() -> Column:
    return F.col("cents") - F.col("cents") % _OS_BUCKET


def _orders_exact_median_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT median order total without a global sort — the two-pass
    bucket algorithm that stays feasible at 100 TB where
    ``percentile()``'s per-group sort-based aggregate (or a full
    ORDER BY) would not:

    pass 1: cents histogram over 10k-cent buckets (map-side combined,
    |buckets| rows) → cumulative counts over the BUCKET table (tiny
    window) locate the bucket holding the k-th value and the rank
    offset inside it; pass 2: scan only that bucket's rows and
    TakeOrdered the (k − preceding)-th — the second pass reads ~1/|B|
    of the data and sorts a bucket, never the table.

    k = (n+1) div 2 (lower median — an exact order statistic, not an
    interpolated float). Every quantity is an exact integer; the
    oracle replays as ORDER BY ... LIMIT 1 OFFSET k-1."""
    from pyspark.sql import Window as _W

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # NULL totals (incl. boundary-nulled NaN) are excluded from the
    # order-statistic distribution: a priceless order has no rank, and
    # a NULL bucket sorts NULLS-FIRST on Spark vs NULLS-LAST in the
    # oracle's ORDER BY (r8 TPC-H degenerate probe).
    orders = (
        _t(spark, sf, "orders")
        .select(cents.alias("cents"))
        .filter(F.col("cents").isNotNull())
    )
    hist = (
        orders.groupBy(_os_bucket_col().alias("b"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    n_row = hist.agg(F.sum("cnt").alias("n"))
    w = _W.orderBy("b").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    # k = (n+1) div 2 in exact integer space: ((n+1) - (n+1)%2) / 2.
    k = (((F.col("n") + 1) - (F.col("n") + 1) % 2) / 2).cast("long")
    cum = (
        hist.crossJoin(F.broadcast(n_row))
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("k", k)
    )
    target = (
        cum.filter(F.col("cum") >= F.col("k"))
        .orderBy("b")
        .limit(1)
        .select("b", (F.col("k") - (F.col("cum") - F.col("cnt"))).alias("r"),
                "n", "k")
    )
    in_bucket = orders.join(
        F.broadcast(target), _os_bucket_col() == F.col("b")
    )
    wr = _W.orderBy("cents")
    return (
        in_bucket.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == F.col("r"))
        .select(
            F.col("n").alias("n_orders"),
            F.col("k").alias("rank"),
            (F.col("cents").cast("double") / 100.0).alias("median_price"),
        )
    )


_register(
    "orders_exact_median_scalable",
    """
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_totalprice IS NOT NULL),
    nn AS (SELECT COUNT(*) AS n, (COUNT(*) + 1) // 2 AS k FROM c)
    SELECT n AS n_orders, k AS rank,
           CAST((SELECT cents FROM c ORDER BY cents
                 LIMIT 1 OFFSET (SELECT k - 1 FROM nn)) AS DOUBLE) / 100.0
             AS median_price
    FROM nn
    """,
    doc="Exact (lower) median order total via the two-pass bucket "
    "algorithm [ext/analytics/percentile]: cents histogram -> "
    "cumulative bucket locate -> TakeOrdered inside ONE bucket. No "
    "global sort, second pass reads ~1/|buckets| of the data - the "
    "shape that keeps exact order statistics feasible at 100 TB. "
    "Oracle replays as ORDER BY LIMIT/OFFSET.",
)(_orders_exact_median_scalable)


def _customer_spend_gini(spark: SparkSession, sf: str) -> DataFrame:
    """Gini coefficient of customer lifetime spend — the revenue-
    concentration metric next to the ABC classes. G = (2·Σ i·x_(i) −
    (n+1)·Σx) / (n·Σx) over rank-ordered spends: every sum is an exact
    integer over cents (Σ i·x over a tie-block is order-invariant, so
    the custkey tie-break cannot move the value), and G itself is one
    integer ratio → ratio_round. The rank window runs over the
    PER-CUSTOMER aggregate (dimension-sized), and the ranked table has
    exactly one consumer (the single-row moment aggregate) — no
    checkpoint needed."""
    from pyspark.sql import Window as _W

    spend = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "cents"
            )
        )
    )
    w = _W.orderBy(F.asc("cents"), F.asc("o_custkey"))
    ranked = spend.withColumn("i", F.row_number().over(w))
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("sx"),
        F.sum(F.col("i").cast("decimal(38,0)") * F.col("cents")).alias(
            "six"
        ),
    )
    num = (
        F.lit(2).cast("decimal(38,0)") * F.col("six")
        - (F.col("n") + 1).cast("decimal(38,0)") * F.col("sx")
    )
    den = F.col("n").cast("decimal(38,0)") * F.col("sx")
    return s.select(
        F.col("n").alias("n_customers"),
        (F.col("sx").cast("double") / 100.0).alias("total_spend"),
        ratio_round(num, den, 6).alias("gini"),
    )


_register(
    "customer_spend_gini",
    f"""
    WITH spend AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, o_custkey) AS i
      FROM spend
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(cents) AS HUGEINT) AS sx,
             CAST(SUM(CAST(i AS HUGEINT) * cents) AS HUGEINT) AS six
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS DOUBLE) / 100.0 AS total_spend,
           {ratio_round_sql('2 * six - (n + 1) * sx', 'n * sx', 6)} AS gini
    FROM s
    """,
    doc="Gini coefficient of customer spend [ext/analytics/stats]: "
    "rank-weighted exact integer sums over the dimension-sized "
    "per-customer aggregate (tie-blocks make the custkey tie-break "
    "value-invariant), G as ONE integer ratio via ratio_round.",
)(_customer_spend_gini)


_register(
    "dedup_containment",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS sh
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
            WHERE len(w) >= 3)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b,
           {ratio_round_sql("n_inter", "sa.n_sh", 4)} AS containment
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / sa.n_sh >= {_dedup.CONTAINMENT_THRESHOLD}
    """,
    doc="Directed shingle-containment pairs C(A->B) >= 0.8 [ext/dedup]: "
    "the asymmetric near-dup relation (quotes, subsumed chunks) Jaccard "
    "misses - Broder 1997. Lossless A-prefix + length + positional "
    "filters bound candidates (the B side indexes all shingles; the "
    "join keys are A's RARE prefix shingles); exact array_intersect "
    "verification; the oracle replays via the naive all-pairs join.",
)(
    lambda spark, sf: _dedup.containment_pairs(_t(spark, sf, "documents"))
)


_register(
    "users_hll_estimate",
    f"""
    WITH h AS (
      SELECT event_type AS grp,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 7)) AS BIGINT) % 64 AS b,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  8, 7)) AS BIGINT) AS w
      FROM events
    ),
    regs AS (
      SELECT grp, b,
             MAX(CASE WHEN w = 0 THEN 29
                      ELSE 29 - length(bin(w)) END) AS m_j
      FROM h GROUP BY 1, 2
    ),
    folded AS (
      SELECT grp, COUNT(*) AS n_regs,
             SUM(1 << (29 - m_j)) AS s_present
      FROM regs GROUP BY 1
    ),
    calc AS (
      -- a present register always has m_j >= 1, so V = empty registers
      SELECT grp,
             s_present + (64 - n_regs) * (1 << 29) AS s_total,
             64 - n_regs AS v_zero
      FROM folded
    )
    SELECT grp AS event_type,
           CAST(s_total AS BIGINT) AS s_scaled,
           CAST(v_zero AS BIGINT) AS v_zero,
           ROUND(CASE WHEN CAST({_sketch.HLL_ALPHA_M2!r} AS DOUBLE)
                           * CAST({float(1 << 29)!r} AS DOUBLE)
                           / CAST(s_total AS DOUBLE) <= 160.0
                       AND v_zero > 0
                      THEN 64.0 * ln(64.0 / CAST(v_zero AS DOUBLE))
                      ELSE CAST({_sketch.HLL_ALPHA_M2!r} AS DOUBLE)
                           * CAST({float(1 << 29)!r} AS DOUBLE)
                           / CAST(s_total AS DOUBLE) END, 4)
             AS est_distinct
    FROM calc
    """,
    doc="Portable HyperLogLog distinct-user estimate per event type "
    "[ext/sketch]: md5-deterministic registers make HLL fully "
    "ORACLE-CHECKED (builtin approx_count_distinct is HLL++ with a "
    "private hash - rows-only forever). Register sums are exact binary "
    "fractions scaled to integers; the two float steps consume "
    "bit-identical ints. Shuffle carries <= m rows per group per "
    "partition. operators/sketch.py::hll_distinct_estimate.",
)(
    lambda spark, sf: _sketch.hll_distinct_estimate(
        _t(spark, sf, "events"), F.col("user_id"), F.col("event_type")
    ).withColumnRenamed("grp", "event_type")
)


def _hourly_anomaly_mad(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier hours by median absolute deviation — the
    heavy-tail-safe twin of the 2σ spike test (`hourly_anomaly_flags`):
    flag hours with |x − median| > 3 · 1.4826 · MAD. Both medians are
    interpolated over exact integer counts (values land on the 1/2
    grid — tie-free ROUND), and the flag's two sides are doubles built
    from identical integers with the identical literal constants, so
    the comparison is bit-identical cross-engine. The hourly table is
    dimension-sized and checkpointed for its consumers (median branch
    and flags branch); the MAD derives from the broadcast median."""
    hours = (
        _t(spark, sf, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=False)
    )
    med_row = hours.agg(
        F.percentile("x", F.lit(0.5)).alias("med")
    ).localCheckpoint(eager=False)
    mad_row = (
        hours.crossJoin(F.broadcast(med_row))
        .select(F.abs(F.col("x") - F.col("med")).alias("d"))
        .agg(F.percentile("d", F.lit(0.5)).alias("mad"))
    )
    return (
        hours.crossJoin(F.broadcast(med_row))
        .crossJoin(F.broadcast(mad_row))
        .select(
            F.unix_millis(F.col("h")).alias("hour_ms"),
            "x",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            (
                F.abs(F.col("x") - F.col("med"))
                > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
            ).alias("is_outlier"),
        )
        .orderBy("hour_ms")
    )


_register(
    "hourly_anomaly_mad",
    """
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, COUNT(*) AS x
      FROM events GROUP BY 1
    ),
    med AS (SELECT quantile_cont(x, 0.5) AS med FROM hours),
    mad AS (
      SELECT quantile_cont(abs(x - med), 0.5) AS mad
      FROM hours CROSS JOIN med
    )
    SELECT epoch_ms(h) AS hour_ms, CAST(x AS BIGINT) AS x,
           ROUND(med, 4) AS med, ROUND(mad, 4) AS mad,
           abs(x - med) > 3.0 * 1.4826 * mad AS is_outlier
    FROM hours CROSS JOIN med CROSS JOIN mad
    ORDER BY hour_ms
    """,
    doc="Robust MAD outlier hours [ext/analytics/timeseries/stats]: "
    "|x - median| > 3*1.4826*MAD over the hourly aggregate - the "
    "heavy-tail-safe twin of the 2-sigma flags. Medians interpolate "
    "exact integer counts (1/2-grid values, tie-free ROUND); the flag "
    "compares doubles built from identical ints. Hourly table "
    "checkpointed for its three consumers.",
)(_hourly_anomaly_mad)


def _monthly_revenue_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Least-squares revenue trend + 3-month forecast — classic BI
    forecasting kept cross-engine exact: with t = 0..M−1 (month rank)
    and y = monthly cents, slope = A/B and forecast(t) =
    (Σy·B − A·Σt + M·A·t) / (M·B) are ratios of exact integers
    (A = M·Σty − Σt·Σy, B = M·Σt² − (Σt)²) — no float slope or
    intercept ever materializes (both are grid quotients). Sums run in
    DECIMAL(38,0); the monthly table is dimension-sized; the forecast
    rows explode from the single stats row."""
    from pyspark.sql import Window as _W

    monthly = (
        _t(spark, sf, "orders")
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("m"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "y"
            )
        )
    )
    t = F.row_number().over(_W.orderBy("m")) - 1
    with_t = monthly.withColumn("t", t.cast("decimal(38,0)"))
    s = with_t.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("mm"),
        F.sum("t").alias("st"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("st2"),
        F.max("m").alias("last_month"),
    )
    a = F.col("mm") * F.col("sty") - F.col("st") * F.col("sy")
    b = F.col("mm") * F.col("st2") - F.col("st") * F.col("st")
    fut = s.select(
        "mm", "st", "sy", "last_month",
        a.alias("a"), b.alias("b"),
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("ahead"),
    )
    ft = F.col("mm") - 1 + F.col("ahead")  # forecast t = M-1+k
    num = (
        F.col("sy") * F.col("b")
        - F.col("a") * F.col("st")
        + F.col("mm") * F.col("a") * ft
    )
    den = F.col("mm") * F.col("b") * 100
    return fut.select(
        F.unix_millis(
            F.add_months(F.col("last_month"), F.col("ahead")).cast(
                "timestamp"
            )
        ).alias("month_ms"),
        F.col("ahead").cast("int").alias("months_ahead"),
        ratio_round(F.col("a"), F.col("b") * 100, 4).alias(
            "slope_per_month"
        ),
        ratio_round(num, den, 4).alias("forecast_revenue"),
    ).orderBy("months_ahead")


_register(
    "monthly_revenue_trend",
    f"""
    WITH monthly AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS y
      FROM orders GROUP BY 1
    ),
    wt AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY m) - 1 AS HUGEINT) AS t,
             y, m
      FROM monthly
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS mm, SUM(t) AS st,
             SUM(CAST(y AS HUGEINT)) AS sy, SUM(t * y) AS sty,
             SUM(t * t) AS st2, MAX(m) AS last_month
      FROM wt
    ),
    ab AS (
      SELECT *, mm * sty - st * sy AS a, mm * st2 - st * st AS b
      FROM s
    ),
    fut AS (
      SELECT ab.*, unnest([1, 2, 3]) AS ahead FROM ab
    )
    SELECT epoch_ms(last_month + TO_MONTHS(ahead)) AS month_ms,
           CAST(ahead AS INTEGER) AS months_ahead,
           {ratio_round_sql('a', 'b * 100', 4)} AS slope_per_month,
           {ratio_round_sql(
               'sy * b - a * st + mm * a * (mm - 1 + ahead)',
               'mm * b * 100', 4)} AS forecast_revenue
    FROM fut ORDER BY months_ahead
    """,
    doc="OLS revenue trend + 3-month forecast [ext/analytics/"
    "timeseries]: slope and forecasts as ratios of exact integer sums "
    "(A/B form - no float slope/intercept ever materializes; both are "
    "grid quotients), DECIMAL(38,0)/HUGEINT sums, dimension-sized "
    "monthly table, forecast rows exploded from the one stats row.",
)(_monthly_revenue_trend)


def _dataset_curriculum_head(spark: SparkSession, sf: str) -> DataFrame:
    """Curriculum data ordering (easy→hard, shuffled within difficulty):
    difficulty = STATIC token-count bands (a global ntile would be a
    corpus-wide window — the thing to avoid at 100 TB; fixed bands are
    scale-free), order within a band by md5 (deterministic shuffle),
    emit the first 100 of the schedule via TakeOrderedAndProject —
    per-partition top-k, no global sort. Assigning ALL positions at
    scale would add range partitioning + partition offsets; the
    ordering key itself is unchanged."""
    docs = _t(spark, sf, "documents")
    # no case fold: whitespace token COUNTS are case-invariant (no case
    # mapping emits whitespace), and full lower() is engine-divergent;
    # explicit class because Java \s includes VT and RE2's does not
    t = F.size(F.split(F.trim(F.col("text")), F.lit(_dedup.WS_CLASS)))
    difficulty = (
        F.when(t < 30, 0).when(t < 60, 1).when(t < 90, 2).otherwise(3)
    )
    h = F.md5(F.concat(F.lit("cur:"), F.col("doc_id").cast("string")))
    return (
        docs.select(
            "doc_id",
            t.alias("n_tokens"),
            difficulty.alias("difficulty"),
            h.alias("shuffle_key"),
        )
        .orderBy("difficulty", "shuffle_key", "doc_id")
        .limit(100)
    )


_register(
    "dataset_curriculum_head",
    f"""
    SELECT doc_id,
           len(regexp_split_to_array(trim(text, ' '), '{_dedup.WS_CLASS}'))
             AS n_tokens,
           CASE WHEN len(regexp_split_to_array(trim(text, ' '), '{_dedup.WS_CLASS}'))
                     < 30 THEN 0
                WHEN len(regexp_split_to_array(trim(text, ' '), '{_dedup.WS_CLASS}'))
                     < 60 THEN 1
                WHEN len(regexp_split_to_array(trim(text, ' '), '{_dedup.WS_CLASS}'))
                     < 90 THEN 2
                ELSE 3 END AS difficulty,
           md5('cur:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
    FROM documents
    ORDER BY difficulty, shuffle_key, doc_id
    LIMIT 100
    """,
    doc="Curriculum schedule head [ext/sampling/pipeline]: easy->hard "
    "by STATIC token bands (no corpus-wide ntile window), md5 shuffle "
    "within a band, top-100 via TakeOrderedAndProject - deterministic, "
    "replayable, no global sort.",
)(_dataset_curriculum_head)


def _retrieval_recall_hamming(spark: SparkSession, sf: str) -> DataFrame:
    """Retrieval-quality evaluation: recall@5 of the binary-Hamming
    retriever against exact cosine top-5, per query — the metric op a
    retrieval pipeline ships with (is 8-byte-code search good enough,
    or does this corpus need PQ/IVF?). Both retrievers are themselves
    oracle-checked; recall = |overlap| / k is one exact integer ratio.
    The two top-5 lists are 50 rows total — the join is trivial; the
    cost is the two retriever passes."""
    from .operators.quantize import hamming_topk
    from .operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    pred = F.col("vec_id") < 10
    exact = brute_force_topk(emb, pred, k=5).select(
        "query_id", "neighbor_id"
    )
    ham = hamming_topk(emb, pred, k=5).select(
        F.col("query_id").alias("hq"), F.col("neighbor_id").alias("hn")
    )
    hits = (
        exact.join(
            ham,
            (F.col("query_id") == F.col("hq"))
            & (F.col("neighbor_id") == F.col("hn")),
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        base.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            "k",
            ratio_round(
                F.coalesce(F.col("n_hits"), F.lit(0)), F.col("k"), 4
            ).alias("recall_at_5"),
        )
        .orderBy("query_id")
    )


_register(
    "retrieval_recall_hamming",
    f"""
    WITH {_cos_topk_sql(10, 5, "exact")},
    {_BINPACK_SQL.strip()},
    {_hamming_topk_sql(10, 5, "ham")},
    hits AS (
      SELECT ex.query_id, COUNT(*) AS n_hits
      FROM exact ex
      WHERE EXISTS (SELECT 1 FROM ham h
                    WHERE h.query_id = ex.query_id
                      AND h.neighbor_id = ex.neighbor_id)
      GROUP BY 1
    ),
    base AS (SELECT query_id, COUNT(*) AS k FROM exact GROUP BY 1)
    SELECT base.query_id,
           CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
           CAST(base.k AS BIGINT) AS k,
           {ratio_round_sql('COALESCE(hits.n_hits, 0)', 'base.k', 4)}
             AS recall_at_5
    FROM base LEFT JOIN hits ON hits.query_id = base.query_id
    ORDER BY base.query_id
    """,
    doc="Recall@5 of binary-Hamming retrieval vs exact cosine [ext/"
    "similarity/eval]: the retrieval-quality metric op; both "
    "retrievers are independently oracle-checked, recall is one exact "
    "integer ratio per query.",
)(_retrieval_recall_hamming)


def _corpus_zipf_fit(spark: SparkSession, sf: str) -> DataFrame:
    """Zipf-law fit of the corpus vocabulary: OLS slope of ln(freq) on
    ln(rank) over the top-200 words (natural corpora fit ≈ −1) + R² —
    the dataset-card diagnostic for synthetic/degenerate text.

    Exactness: ln outputs round to the 1e-6 grid (off-grid
    transcendentals — the BM25/DSIR rule), everything after is INTEGER:
    x_u=round(ln r,6)·1e6, y_u likewise, Σx_u·y_u is exact at 1e-12
    scale, and slope/R² are integer ratios → ratio_round. Top-200 cut
    via TakeOrderedAndProject with (freq desc, word) tie-break; the
    rank window runs over 200 rows."""
    from pyspark.sql import Window as _W
    from .operators.text import _norm as _txt_norm

    words = (
        _t(spark, sf, "documents")
        .select(F.explode(F.split(_txt_norm(F.col("text")), " ")).alias("w"))
        .filter(F.length("w") > 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("w"))
        .limit(200)
    )
    r = F.row_number().over(_W.orderBy(F.desc("freq"), F.asc("w")))
    xu = F.round(F.round(F.log(r.cast("double")), 6) * 1000000).cast("long")
    yu = F.round(
        F.round(F.log(F.col("freq").cast("double")), 6) * 1000000
    ).cast("long")
    pts = words.select(xu.alias("xu"), yu.alias("yu"))
    s = pts.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("xu").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("yu").cast("decimal(38,0)")).alias("sy"),
        F.sum(
            F.col("xu").cast("decimal(38,0)") * F.col("yu")
        ).alias("sxy"),
        F.sum(
            F.col("xu").cast("decimal(38,0)") * F.col("xu")
        ).alias("sx2"),
        F.sum(
            F.col("yu").cast("decimal(38,0)") * F.col("yu")
        ).alias("sy2"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    denx = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("sy2") - F.col("sy") * F.col("sy")
    return s.select(
        F.col("n").cast("long").alias("n_ranks"),
        ratio_round(num, denx, 4).alias("zipf_slope"),
        ratio_round(num * num, denx * deny, 4).alias("r2"),
    )


_register(
    "corpus_zipf_fit",
    f"""
    WITH words AS (
      SELECT w, COUNT(*) AS freq
      FROM (SELECT unnest(string_split(t, ' ')) AS w
            FROM (SELECT {_NORM_SQL} AS t FROM documents))
      WHERE length(w) > 0
      GROUP BY w ORDER BY freq DESC, w LIMIT 200
    ),
    pts AS (
      SELECT CAST(ROUND(ROUND(ln(CAST(ROW_NUMBER() OVER
                 (ORDER BY freq DESC, w) AS DOUBLE)), 6) * 1000000)
               AS BIGINT) AS xu,
             CAST(ROUND(ROUND(ln(CAST(freq AS DOUBLE)), 6) * 1000000)
               AS BIGINT) AS yu
      FROM words
    ),
    s AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(xu) AS HUGEINT) AS sx, CAST(SUM(yu) AS HUGEINT) AS sy,
             CAST(SUM(CAST(xu AS HUGEINT) * yu) AS HUGEINT) AS sxy,
             CAST(SUM(CAST(xu AS HUGEINT) * xu) AS HUGEINT) AS sx2,
             CAST(SUM(CAST(yu AS HUGEINT) * yu) AS HUGEINT) AS sy2
      FROM pts
    )
    SELECT CAST(n AS BIGINT) AS n_ranks,
           {ratio_round_sql('n * sxy - sx * sy', 'n * sx2 - sx * sx', 4)}
             AS zipf_slope,
           {ratio_round_sql(
               '(n * sxy - sx * sy) * (n * sxy - sx * sy)',
               '(n * sx2 - sx * sx) * (n * sy2 - sy * sy)', 4)} AS r2
    FROM s
    """,
    doc="Zipf-law fit over the top-200 vocabulary [ext/text/stats]: "
    "OLS slope of ln(freq) on ln(rank) + R^2 - ln terms rounded to the "
    "1e-6 grid (off-grid transcendentals), then PURE integer moment "
    "sums and ratio_round quotients. Top-200 via TakeOrdered; rank "
    "window over 200 rows.",
)(_corpus_zipf_fit)


# --------------------------------------------------------------------------
# r6 continuation batch: graph census, HLL set algebra, skew diagnostics,
# adaptive quality filtering.
# --------------------------------------------------------------------------


def _graph_triangle_census(spark: SparkSession, sf: str) -> DataFrame:
    """Triangle census of the 1998+ part co-purchase graph — see
    ``operators/graph.py::triangle_stats``: degree-ordered orientation
    (Suri & Vassilvitskii 2011) caps oriented out-degree at O(sqrt(m)),
    so the wedge join is O(m^1.5) worst-case instead of Σ deg²; each
    triangle counts once at its lowest-ordered vertex. All-integer; the
    clustering coefficient is 6T / Σ deg(deg−1) via ratio_round."""
    from .operators.graph import copurchase_pairs, triangle_stats

    return triangle_stats(copurchase_pairs(_lineitem_1998(spark, sf)))


_register(
    "graph_triangle_census",
    f"""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
    und AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      GROUP BY node),
    o AS (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND src < dst)
                  THEN src ELSE dst END AS a,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND src < dst)
                  THEN dst ELSE src END AS b,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND src < dst)
                  THEN dv.d ELSE du.d END AS db
      FROM und
      JOIN deg du ON du.node = und.src
      JOIN deg dv ON dv.node = und.dst),
    w AS (
      SELECT x.b AS wb, y.b AS wc
      FROM o x JOIN o y
        ON x.a = y.a AND (x.db < y.db OR (x.db = y.db AND x.b < y.b))),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM w JOIN o ON o.a = w.wb AND o.b = w.wc),
    nn AS (
      SELECT COUNT(*) AS n_nodes, SUM(d * (d - 1)) AS degdeg FROM deg),
    ne AS (SELECT COUNT(*) AS n_edges FROM und)
    SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges,
           CAST(degdeg // 2 AS BIGINT) AS n_wedges,
           CAST(n_triangles AS BIGINT) AS n_triangles,
           {ratio_round_sql('6 * n_triangles', 'degdeg', 4)}
             AS global_clustering
    FROM nn CROSS JOIN ne CROSS JOIN tri
    """,
    doc="Triangle census + global clustering coefficient of the part "
    "co-purchase graph [ext/analytics/graph]: degree-ordered edge "
    "orientation bounds the wedge join at O(m^1.5) (no hub blow-up - a "
    "celebrity node generates zero wedges from its own fan-out); exact "
    "integer counts, coefficient via ratio_round. Oriented edges "
    "checkpointed once for their three consumers.",
)(_graph_triangle_census)


def _hll_est_sql(n: str, s: str) -> str:
    """DuckDB twin of sketch._hll_est over a (n_regs, s_present) fold."""
    st = f"({s} + (64 - {n}) * CAST(1 << 29 AS BIGINT))"
    raw = (
        f"(CAST({_sketch.HLL_ALPHA_M2!r} AS DOUBLE)"
        f" * CAST({float(1 << 29)!r} AS DOUBLE)"
        f" / CAST({st} AS DOUBLE))"
    )
    vz = f"(64 - {n})"
    return (
        f"(CASE WHEN {raw} <= 160.0 AND {vz} > 0"
        f" THEN 64.0 * ln(64.0 / CAST({vz} AS DOUBLE))"
        f" ELSE {raw} END)"
    )


_register(
    "users_hll_overlap",
    f"""
    WITH h AS (
      SELECT event_type = 'click' AS ia,
             event_type = 'purchase' AS ib,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 7)) AS BIGINT) % 64 AS b,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  8, 7)) AS BIGINT) AS w
      FROM events WHERE event_type IN ('click', 'purchase')
    ),
    h2 AS (
      SELECT ia, ib, b,
             CASE WHEN w = 0 THEN 29 ELSE 29 - length(bin(w)) END AS rho
      FROM h
    ),
    regs AS (
      SELECT b,
             MAX(CASE WHEN ia THEN rho END) AS ma,
             MAX(CASE WHEN ib THEN rho END) AS mb,
             MAX(rho) AS mu
      FROM h2 GROUP BY b
    ),
    folded AS (
      SELECT COUNT(ma) AS n_ma,
             COALESCE(SUM(CASE WHEN ma IS NOT NULL
                          THEN CAST(1 << (29 - ma) AS BIGINT) END), 0) AS s_ma,
             COUNT(mb) AS n_mb,
             COALESCE(SUM(CASE WHEN mb IS NOT NULL
                          THEN CAST(1 << (29 - mb) AS BIGINT) END), 0) AS s_mb,
             COUNT(mu) AS n_mu,
             COALESCE(SUM(CAST(1 << (29 - mu) AS BIGINT)), 0) AS s_mu
      FROM regs
    )
    SELECT ROUND({_hll_est_sql('n_ma', 's_ma')}, 4) AS est_click,
           ROUND({_hll_est_sql('n_mb', 's_mb')}, 4) AS est_purchase,
           ROUND({_hll_est_sql('n_mu', 's_mu')}, 4) AS est_union,
           ROUND({_hll_est_sql('n_ma', 's_ma')} + {_hll_est_sql('n_mb', 's_mb')}
                 - {_hll_est_sql('n_mu', 's_mu')}, 4) AS est_overlap
    FROM folded
    """,
    doc="HLL set algebra [ext/sketch]: distinct click users, purchase "
    "users, their union (per-bucket register max - the mergeability "
    "property), and the inclusion-exclusion overlap estimate. One scan, "
    "one <= 64-row shuffle, fully ORACLE-CHECKED (md5 registers). "
    "operators/sketch.py::hll_set_algebra.",
)(
    lambda spark, sf: _sketch.hll_set_algebra(
        _t(spark, sf, "events"),
        F.col("user_id"),
        F.col("event_type") == "click",
        F.col("event_type") == "purchase",
    ).select(
        F.col("est_a").alias("est_click"),
        F.col("est_b").alias("est_purchase"),
        "est_union",
        "est_overlap",
    )
)


def _events_key_skew_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Shuffle-key skew diagnostics for the events stream: top-10
    heaviest user_ids with share and cumulative share, plus the global
    max-over-mean skew factor — the report that predicts which keys
    will hot-spot a 100 TB groupBy/join before it runs. Per-key counts
    map-side combine; the rank window runs over 10 rows post-limit;
    every ratio is exact-integer via ratio_round."""
    from pyspark.sql import Window as _W

    cnts = (
        _t(spark, sf, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    stats = cnts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("total"),
        F.max("cnt").alias("max_cnt"),
    )
    top = cnts.orderBy(F.desc("cnt"), F.asc("user_id")).limit(10)
    w = _W.orderBy(F.desc("cnt"), F.asc("user_id")).rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    wr = _W.orderBy(F.desc("cnt"), F.asc("user_id"))
    return (
        top.withColumn("rank", F.row_number().over(wr))
        .withColumn("cum", F.sum("cnt").over(w))
        .crossJoin(F.broadcast(stats))
        .select(
            "rank",
            "user_id",
            "cnt",
            ratio_round(F.col("cnt") * 100, F.col("total"), 4).alias(
                "share_pct"
            ),
            ratio_round(F.col("cum") * 100, F.col("total"), 4).alias(
                "cum_share_pct"
            ),
            F.col("n_keys").cast("long").alias("n_keys"),
            ratio_round(
                F.col("max_cnt") * F.col("n_keys"), F.col("total"), 4
            ).alias("max_over_mean"),
        )
    )


_register(
    "events_key_skew_profile",
    f"""
    WITH cnts AS (
      SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id
    ),
    stats AS (
      SELECT COUNT(*) AS n_keys, SUM(cnt) AS total, MAX(cnt) AS max_cnt
      FROM cnts
    ),
    top AS (
      SELECT user_id, cnt,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rank,
             SUM(cnt) OVER (ORDER BY cnt DESC, user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum
      FROM cnts ORDER BY cnt DESC, user_id LIMIT 10
    )
    SELECT rank, user_id, cnt,
           {ratio_round_sql('cnt * 100', 'total', 4)} AS share_pct,
           {ratio_round_sql('cum * 100', 'total', 4)} AS cum_share_pct,
           CAST(n_keys AS BIGINT) AS n_keys,
           {ratio_round_sql('max_cnt * n_keys', 'total', 4)}
             AS max_over_mean
    FROM top CROSS JOIN stats
    """,
    doc="Shuffle-key skew diagnostics [ext/analytics]: top-10 heaviest "
    "user_ids with share/cumulative share + global max-over-mean skew "
    "factor - the pre-flight report for hot-key salting decisions at "
    "scale. Map-side-combined per-key counts, TakeOrdered top-10, rank "
    "window over 10 rows; exact integer ratios throughout.",
)(_events_key_skew_profile)


def _docs_adaptive_quality_filter(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source adaptive quality threshold: keep the top 90% of each
    source's documents by quality score (rank-based, doc_id tie-break)
    and report (n_docs, n_kept, cutoff_score) per source.

    Scale shape: NO per-document window — scores land on the 1e-4 grid,
    so the cutoff comes from per-(source, score) counts (map-side
    combine) + a cumulative window over the ≤ 10⁴ distinct score values
    per source (the orders_exact_median_scalable idiom). k = (9n) div 10
    is exact; the cutoff bucket is the one where the cumulative count
    first reaches k."""
    from pyspark.sql import Window as _W

    qs = _text.quality_scores(
        _t(spark, sf, "documents"), extra_cols=("source",)
    )
    counts = qs.groupBy("source", "quality_score").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = _W.partitionBy("source").orderBy(F.desc("quality_score")).rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    wall = _W.partitionBy("source")
    cum = counts.select(
        "source",
        "quality_score",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wall).alias("n_docs"),
    ).withColumn("k", F.expr("(9 * n_docs) div 10"))
    return (
        cum.filter((F.col("cum") >= F.col("k")) & (F.col("cum") - F.col("cnt") < F.col("k")))
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("k").cast("long").alias("n_kept"),
            F.col("quality_score").alias("cutoff_score"),
        )
    )


_register(
    "docs_adaptive_quality_filter",
    f"""
    WITH base AS (
      SELECT doc_id, source, t,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS letters,
             ' ' || t || ' ' AS p
      FROM (SELECT doc_id, source, {_NORM_SQL} AS t FROM documents)
    ), m AS (
      SELECT doc_id, source, n_words, letters,
             CAST({_lang_score_sql("p", "en")} AS BIGINT) AS stops
      FROM base
    ), qs AS (
      SELECT doc_id, source, {_QS_SCORE_SQL} AS quality_score FROM m
    ), counts AS (
      SELECT source, quality_score, COUNT(*) AS cnt
      FROM qs GROUP BY source, quality_score
    ), cum AS (
      SELECT source, quality_score, cnt,
             SUM(cnt) OVER (PARTITION BY source ORDER BY quality_score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n_docs
      FROM counts
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST((9 * n_docs) // 10 AS BIGINT) AS n_kept,
           quality_score AS cutoff_score
    FROM cum
    WHERE cum >= (9 * n_docs) // 10 AND cum - cnt < (9 * n_docs) // 10
    """,
    doc="Per-source adaptive quality cutoff (keep top 90% by score) "
    "[ext/text/pipeline]: the cutoff comes from per-(source, score) "
    "bucket counts + a cumulative window over distinct score values - "
    "no per-document window, no global sort (the scalable-median "
    "idiom). Scores are exact 1e-4-grid ratios (shared _QS_SCORE "
    "formula), k = (9n) div 10 exact.",
)(_docs_adaptive_quality_filter)


def _embedding_knn_label_eval(spark: SparkSession, sf: str) -> DataFrame:
    """k-NN classification eval over the embedding corpus: predict each
    query vector's label by 5-NN cosine majority vote (count desc, label
    asc tie-break) and report per-true-label accuracy — the standard
    embedding-quality probe run before trusting vectors for semantic
    dedup or retrieval.

    Reuses the exact brute-force scorer (query side broadcast, one
    corpus pass); votes aggregate per (query, label) with map-side
    combine before the one query-keyed shuffle; accuracy is an exact
    integer ratio via ratio_round. The brute-force scorer is the
    baseline path by design (cf. similarity_topk_bruteforce) — swap in
    ivf_topk for the 100 TB corpus, same vote/accuracy tail."""
    from pyspark.sql import Window as _W

    emb = _t(spark, sf, "embeddings")
    knn = _sim.brute_force_topk(emb, F.col("vec_id") < 100, k=5)
    nb_labels = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("nb_label")
    )
    votes = (
        knn.join(nb_labels, "neighbor_id")
        .groupBy("query_id", "nb_label")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wv = _W.partitionBy("query_id").orderBy(F.desc("c"), F.asc("nb_label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("nb_label").alias("pred_label"))
    )
    truth = emb.filter(F.col("vec_id") < 100).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    return (
        truth.join(pred, "query_id")
        .groupBy("true_label")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                (F.col("pred_label") == F.col("true_label")).cast("long")
            ).alias("n_correct"),
        )
        .select(
            "true_label",
            "n_queries",
            "n_correct",
            ratio_round(F.col("n_correct"), F.col("n_queries"), 4).alias(
                "accuracy"
            ),
        )
    )


_register(
    "embedding_knn_label_eval",
    f"""
    WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS true_label, emb AS q_emb
          FROM e WHERE vec_id < 100),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS nb_label,
             {_COS_SQL.format(a="q.q_emb", b="e.emb")} AS cos
      FROM e, q WHERE e.vec_id <> q.query_id
    ),
    knn AS (
      SELECT query_id, nb_label
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
            FROM scored)
      WHERE rnk <= 5
    ),
    votes AS (
      SELECT query_id, nb_label, COUNT(*) AS c
      FROM knn GROUP BY query_id, nb_label
    ),
    pred AS (
      SELECT query_id, nb_label AS pred_label
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY query_id ORDER BY c DESC, nb_label) AS rn
            FROM votes)
      WHERE rn = 1
    )
    SELECT true_label,
           COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
             AS BIGINT) AS n_correct,
           {ratio_round_sql(
               'SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)',
               'COUNT(*)', 4)} AS accuracy
    FROM q JOIN pred USING (query_id)
    GROUP BY true_label
    """,
    doc="k-NN label-vote eval [ext/similarity/eval]: 5-NN cosine "
    "majority vote (count desc, label asc tie-break) for 100 query "
    "vectors, per-true-label accuracy as exact integer ratios. Exact "
    "scorer is the documented baseline path; vote + accuracy tail is "
    "retriever-agnostic.",
)(_embedding_knn_label_eval)


def _customer_cohort_ltv(spark: SparkSession, sf: str) -> DataFrame:
    """Customer-cohort lifetime value: customers grouped by first-order
    month, revenue tracked per cohort age in months with a running
    cumulative — the retention-revenue curve behind every LTV model.

    Month key = year·12 + month (exact ints, no date diffing); revenue
    sums ride the cents grid (DECIMAL) so cumulative totals are exact;
    the cumulative window runs per cohort over ≤ |months| rows of the
    aggregated grid, never over raw orders. First-order month is a
    customer-keyed aggregate joined back on the SAME key the order scan
    groups by (one co-partitioned shuffle)."""
    from pyspark.sql import Window as _W

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("ym"),
        "o_totalprice",
    )
    # Two consumers (sizes + the grid join) — checkpoint the customer-
    # sized aggregate once (the multi-consumer rule).
    first = (
        o.groupBy("o_custkey")
        .agg(F.min("ym").alias("cohort_ym"))
        .localCheckpoint(eager=False)
    )
    sizes = first.groupBy("cohort_ym").agg(
        F.count(F.lit(1)).alias("n_cohort_customers")
    )
    grid = (
        o.join(first, "o_custkey")
        .groupBy(
            "cohort_ym", (F.col("ym") - F.col("cohort_ym")).alias("age_months")
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_active"),
            cents(F.sum("o_totalprice")).alias("revenue"),
        )
    )
    wc = _W.partitionBy("cohort_ym").orderBy("age_months").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    return (
        grid.withColumn(
            # revenue is exact integer cents (cents()), so the running
            # total is a plain integer sum — no rounding site at all.
            "cum_revenue",
            F.sum("revenue").over(wc).cast("long"),
        )
        .join(F.broadcast(sizes), "cohort_ym")
        .select(
            F.col("cohort_ym").cast("long").alias("cohort_ym"),
            F.col("age_months").cast("long").alias("age_months"),
            F.col("n_cohort_customers").cast("long").alias(
                "n_cohort_customers"
            ),
            F.col("n_active").cast("long").alias("n_active"),
            "revenue",
            "cum_revenue",
        )
    )


_register(
    "customer_cohort_ltv",
    f"""
    WITH o AS (
      SELECT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) AS ym,
             o_totalprice
      FROM orders
    ),
    first AS (
      SELECT o_custkey, MIN(ym) AS cohort_ym FROM o GROUP BY o_custkey
    ),
    sizes AS (
      SELECT cohort_ym, COUNT(*) AS n_cohort_customers
      FROM first GROUP BY cohort_ym
    ),
    grid AS (
      SELECT f.cohort_ym, o.ym - f.cohort_ym AS age_months,
             COUNT(DISTINCT o.o_custkey) AS n_active,
             {cents_sql('SUM(o.o_totalprice)')} AS revenue
      FROM o JOIN first f USING (o_custkey)
      GROUP BY 1, 2
    )
    SELECT CAST(g.cohort_ym AS BIGINT) AS cohort_ym,
           CAST(g.age_months AS BIGINT) AS age_months,
           CAST(s.n_cohort_customers AS BIGINT) AS n_cohort_customers,
           CAST(g.n_active AS BIGINT) AS n_active,
           g.revenue,
           CAST(SUM(g.revenue) OVER (
             PARTITION BY g.cohort_ym ORDER BY g.age_months
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_revenue
    FROM grid g JOIN sizes s USING (cohort_ym)
    """,
    doc="Cohort LTV curve [ext/analytics]: first-order-month cohorts x "
    "age-in-months, active customers + exact cents-grid revenue + "
    "cumulative per-cohort revenue. Integer month keys (y*12+m), "
    "cumulative window over the aggregated grid only, cohort sizes "
    "broadcast.",
)(_customer_cohort_ltv)


def _events_user_entropy(spark: SparkSession, sf: str) -> DataFrame:
    """Per-user behavioral entropy over event types: H = Σ −p·ln p via
    the rounded-term DECIMAL-sum idiom (each term (c/n)·ln(n/c) rounds
    to the 1e-6 grid — transcendental, off-grid — then sums exactly as
    DECIMAL(28,6), so the per-user fold is order-independent). The bot/
    crawler screen: near-zero entropy = single-action automation, high
    entropy = organic mixed behavior. Two map-side-combined aggregates,
    shuffles bounded by |users|·|event types| then |users|."""
    ev = _t(spark, sf, "events")
    # Two consumers (the nn roll-up + the join back) — checkpoint the
    # |users|x|types| pair-count table once (the multi-consumer rule).
    cc = (
        ev.groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    nn = cc.groupBy("user_id").agg(
        F.sum("c").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    term = F.round(
        (F.col("c").cast("double") / F.col("n"))
        * F.log(F.col("n").cast("double") / F.col("c")),
        6,
    ).cast("decimal(28,6)")
    return (
        cc.join(nn, "user_id")
        .withColumn("term", term)
        .groupBy("user_id")
        .agg(
            F.first("n").alias("n_events"),
            F.first("n_types").alias("n_types"),
            F.sum("term").cast("double").alias("entropy"),
        )
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_types").cast("long").alias("n_types"),
            "entropy",
        )
    )


_register(
    "events_user_entropy",
    """
    WITH cc AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    nn AS (
      SELECT user_id, SUM(c) AS n, COUNT(*) AS n_types
      FROM cc GROUP BY user_id
    )
    SELECT cc.user_id,
           CAST(MIN(nn.n) AS BIGINT) AS n_events,
           CAST(MIN(nn.n_types) AS BIGINT) AS n_types,
           CAST(SUM(CAST(ROUND((CAST(c AS DOUBLE) / n)
                 * ln(CAST(n AS DOUBLE) / c), 6) AS DECIMAL(28,6)))
             AS DOUBLE) AS entropy
    FROM cc JOIN nn ON cc.user_id = nn.user_id
    GROUP BY cc.user_id
    """,
    doc="Per-user event-type entropy [ext/analytics]: the bot screen - "
    "H = sum -p ln p with 1e-6-grid rounded terms summed as DECIMAL "
    "(the char_entropy idiom; order-independent, engine-exact). "
    "Shuffles bounded by |users|*|types| then |users|.",
)(_events_user_entropy)


_register(
    "embedding_pca_spectrum",
    """
    SELECT CAST(c AS INTEGER) AS component,
           (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           TRUE AS eig_nonneg, TRUE AS nonincreasing,
           TRUE AS cum_ratio_bounded, TRUE AS eigsum_matches_trace
    FROM (SELECT unnest(generate_series(1, 10)) AS c)
    """,
    doc="PCA eigenspectrum audit [ext/similarity/stats]: distributed "
    "exact integer partial-Gram pass (the dim_covariance map-side "
    "combine), then a CONSTANT-size DxD driver eigendecomposition (the "
    "k-means-centroid collect class). Emitted as an in-plan INVARIANT "
    "AUDIT (VERDICT r6 item 6): PSD non-negativity, sorted spectrum, "
    "cum-ratio <= 1, and eigenvalue-sum == trace recomputed from the "
    "same integer Gram rows — theorems about any correct run, so the "
    "oracle asserts them TRUE alongside the exact corpus count. "
    "Eigenvalue VALUES stay pinned by the numpy parity pytest "
    "(tests/test_round6_ops.py); the raw-spectrum surface remains "
    "similarity.pca_spectrum.",
)(
    lambda spark, sf: _sim.pca_spectrum_audit(_t(spark, sf, "embeddings"))
)


def _part_copurchase_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 "also bought" parts per
    part by co-occurrence LIFT = P(a,b)/(P(a)·P(b)) = w·N/(n_a·n_b)
    over 1998+ orders. Ranking uses the raw double quotient of exact
    integers (one IEEE division, bit-identical cross-engine — the
    cosine-ranking precedent) with a dst tie-break; the reported lift
    rounds in exact integer space. w·N and n_a·n_b stay < 2^53 here;
    at a scale where they would not, swap the rank key for the
    cross-multiplied BIGINT comparison (same order, no doubles).

    Plan: per-order pair fan (bounded by order width), map-side-combined
    pair counts, part totals broadcast onto the edge table, one rank
    window per src over ≤ |co-purchased parts| rows. The distinct
    (order, part) table has three consumers (both self-join sides +
    part/order totals) → checkpointed once (the multi-consumer rule)
    instead of routing through copurchase_edges, which would re-derive
    it."""
    from pyspark.sql import Window as _W

    li = _lineitem_1998(spark, sf)
    lp = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    a, b = lp.alias("a"), lp.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("src"),
            F.col("b.l_partkey").alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    # Two consumers (the na and nb broadcast sides) — checkpoint the
    # |parts|-row aggregate once (the multi-consumer rule).
    nord = (
        lp.groupBy(F.col("l_partkey").alias("p"))
        .agg(F.count(F.lit(1)).alias("n_ord"))
        .localCheckpoint(eager=False)
    )
    totals = lp.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    na = nord.select(F.col("p").alias("src"), F.col("n_ord").alias("na"))
    nb = nord.select(F.col("p").alias("dst"), F.col("n_ord").alias("nb"))
    scored = (
        edges.join(F.broadcast(na), "src")
        .join(F.broadcast(nb), "dst")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "lift_raw",
            (F.col("w") * F.col("n_orders")).cast("double")
            / (F.col("na") * F.col("nb")).cast("double"),
        )
    )
    wr = _W.partitionBy("src").orderBy(F.desc("lift_raw"), F.asc("dst"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("src").alias("part"),
            F.col("dst").alias("also_bought"),
            F.col("w").cast("long").alias("n_co_orders"),
            ratio_round(
                F.col("w") * F.col("n_orders"),
                F.col("na") * F.col("nb"),
                4,
            ).alias("lift"),
            "rnk",
        )
    )


_register(
    "part_copurchase_topk",
    f"""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
    edges AS (
      SELECT a.l_partkey AS src, b.l_partkey AS dst, COUNT(*) AS w
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2),
    nord AS (SELECT l_partkey AS p, COUNT(*) AS n_ord FROM lp GROUP BY 1),
    totals AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lp),
    scored AS (
      SELECT e.src, e.dst, e.w, na.n_ord AS na, nb.n_ord AS nb, t.n_orders,
             CAST(e.w * t.n_orders AS DOUBLE)
               / CAST(na.n_ord * nb.n_ord AS DOUBLE) AS lift_raw
      FROM edges e
      JOIN nord na ON na.p = e.src
      JOIN nord nb ON nb.p = e.dst
      CROSS JOIN totals t)
    SELECT src AS part, dst AS also_bought,
           CAST(w AS BIGINT) AS n_co_orders,
           {ratio_round_sql('w * n_orders', 'na * nb', 4)} AS lift,
           CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY src ORDER BY lift_raw DESC, dst) AS rnk
          FROM scored)
    WHERE rnk <= 3
    """,
    doc="Item-item 'also bought' top-3 per part by co-occurrence lift "
    "[ext/analytics/recsys]: exact integer pair/total counts, rank on "
    "the bit-identical double quotient (dst tie-break), reported lift "
    "via ratio_round. Pair fan bounded by order width; part totals "
    "broadcast.",
)(_part_copurchase_topk)


def _supplier_part_hhi(spark: SparkSession, sf: str) -> DataFrame:
    """Supply-concentration screen: Herfindahl–Hirschman index of
    supplier quantity shares per part — HHI = Σ share_s² =
    Σq_s² / (Σq_s)², flagged CONCENTRATED at HHI > 0.25 (the antitrust
    threshold). Quantities are integer-valued doubles → exact BIGINT;
    both HHI numerator and denominator are exact DECIMAL products, so
    the ratio rounds in exact space. Two map-side-combined aggregates,
    shuffles keyed (part, supplier) then part."""
    li = _t(spark, sf, "lineitem").select(
        "l_partkey",
        "l_suppkey",
        F.round("l_quantity").cast("long").alias("qty"),
    )
    per_sup = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("qty").alias("q")
    )
    qd = F.col("q").cast("decimal(38,0)")
    per_part = per_sup.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("q").alias("total_qty"),
        F.sum(qd * qd).alias("sum_q2"),
    )
    td = F.col("total_qty").cast("decimal(38,0)")
    return per_part.select(
        "l_partkey",
        F.col("n_suppliers").cast("long").alias("n_suppliers"),
        F.col("total_qty").cast("long").alias("total_qty"),
        ratio_round(F.col("sum_q2"), td * td, 4).alias("hhi"),
        (F.col("sum_q2") * 4 > td * td).alias("concentrated"),
    )


_register(
    "supplier_part_hhi",
    f"""
    WITH per_sup AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey,
             COUNT(*) AS n_suppliers,
             SUM(q) AS total_qty,
             SUM(CAST(q AS HUGEINT) * q) AS sum_q2
      FROM per_sup GROUP BY 1
    )
    SELECT l_partkey,
           CAST(n_suppliers AS BIGINT) AS n_suppliers,
           CAST(total_qty AS BIGINT) AS total_qty,
           {ratio_round_sql(
               'sum_q2', 'CAST(total_qty AS HUGEINT) * total_qty', 4)}
             AS hhi,
           sum_q2 * 4 > CAST(total_qty AS HUGEINT) * total_qty
             AS concentrated
    FROM per_part
    """,
    doc="Supplier-concentration HHI per part [ext/analytics]: "
    "sum-of-squared quantity shares as ONE exact integer ratio "
    "(ratio_round), concentration flag via the cross-multiplied exact "
    "inequality 4*sum_q2 > total^2 (no float compare). Two "
    "map-side-combined aggregates.",
)(_supplier_part_hhi)


def _user_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD type-2 dimension build from the event stream: collapse each
    user's consecutive same-event_type runs into validity intervals
    (valid_from, valid_to, version) — the warehouse pattern for
    tracking attribute history. Change detection via lag, version via
    running sum of change flags, interval close via lead over the
    RUN-level table (|runs| ≤ |events| rows). All windows partition by
    user_id — co-partitioned with the natural event shuffle, no global
    sort; timestamps cross the hash boundary as epoch ms."""
    from pyspark.sql import Window as _W

    ev = _t(spark, sf, "events").select(
        "user_id",
        "event_type",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
    )
    w = _W.partitionBy("user_id").orderBy("ts_ms", "event_id")
    chg = F.when(
        F.lag("event_type").over(w).isNull()
        | (F.lag("event_type").over(w) != F.col("event_type")),
        1,
    ).otherwise(0)
    runs = (
        ev.withColumn("ver", F.sum(chg).over(w))
        .groupBy("user_id", "ver")
        .agg(
            F.min("event_type").alias("event_type"),
            F.min("ts_ms").alias("valid_from_ms"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    wv = _W.partitionBy("user_id").orderBy("ver")
    return runs.select(
        "user_id",
        F.col("ver").cast("long").alias("version"),
        "event_type",
        "valid_from_ms",
        F.lead("valid_from_ms").over(wv).alias("valid_to_ms"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_register(
    "user_scd2_intervals",
    """
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
      FROM events
    ),
    flagged AS (
      SELECT *,
             CASE WHEN LAG(event_type) OVER w IS NULL
                    OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS chg
      FROM ev
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
    ),
    versioned AS (
      SELECT *,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS ver
      FROM flagged
    ),
    runs AS (
      SELECT user_id, ver,
             MIN(event_type) AS event_type,
             MIN(ts_ms) AS valid_from_ms,
             COUNT(*) AS n_events
      FROM versioned GROUP BY user_id, ver
    )
    SELECT user_id,
           CAST(ver AS BIGINT) AS version,
           event_type,
           valid_from_ms,
           LEAD(valid_from_ms) OVER (
             PARTITION BY user_id ORDER BY ver) AS valid_to_ms,
           CAST(n_events AS BIGINT) AS n_events
    FROM runs
    """,
    doc="SCD type-2 validity intervals from the event stream "
    "[ext/analytics/warehouse]: lag change-detection, running-sum "
    "versioning, lead interval close over the run-level table. "
    "User-partitioned windows only; epoch-ms hash crossing.",
)(_user_scd2_intervals)


def _dedup_impact_report(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source dedup impact: documents/tokens before vs after exact
    dedup (global min-doc_id keeper) and the token savings percentage —
    the report that justifies a dedup pass before training. One
    fingerprint aggregate (map-side combine) + one fp-keyed join-back;
    savings is an exact integer ratio."""
    d = _t(spark, sf, "documents").select(
        "doc_id",
        "source",
        F.md5(_text._norm(F.col("text"))).alias("fp"),
        F.size(F.split(_text._norm(F.col("text")), " ")).cast("long").alias(
            "tok"
        ),
    )
    keep = d.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    return (
        d.join(keep, "fp")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("tok").alias("n_tokens"),
            F.sum(
                (F.col("doc_id") == F.col("keeper")).cast("long")
            ).alias("n_kept"),
            F.sum(
                F.when(F.col("doc_id") == F.col("keeper"), F.col("tok"))
                .otherwise(F.lit(0))
            ).alias("n_tokens_kept"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_kept").cast("long").alias("n_kept"),
            F.col("n_tokens_kept").cast("long").alias("n_tokens_kept"),
            ratio_round(
                (F.col("n_tokens") - F.col("n_tokens_kept")) * 100,
                F.col("n_tokens"),
                4,
            ).alias("token_savings_pct"),
        )
    )


_register(
    "dedup_impact_report",
    f"""
    WITH d AS (
      SELECT doc_id, source, md5(t) AS fp,
             CAST(len(string_split(t, ' ')) AS BIGINT) AS tok
      FROM (SELECT doc_id, source, {_NORM_SQL} AS t FROM documents)
    ),
    keep AS (SELECT fp, MIN(doc_id) AS keeper FROM d GROUP BY fp)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN doc_id = keeper THEN tok ELSE 0 END) AS BIGINT)
             AS n_tokens_kept,
           {ratio_round_sql(
               '(SUM(tok) - SUM(CASE WHEN doc_id = keeper THEN tok ELSE 0 END)) * 100',
               'SUM(tok)', 4)} AS token_savings_pct
    FROM d JOIN keep USING (fp)
    GROUP BY source
    """,
    doc="Per-source dedup impact report [ext/dedup/pipeline]: docs and "
    "tokens before/after exact dedup (global min-doc_id keeper) + "
    "exact-ratio token savings. Fingerprint agg map-side combines; one "
    "fp-keyed join-back.",
)(_dedup_impact_report)


def _events_holt_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend, α = β = 1/2)
    of hourly revenue cents per event type — the trend-aware upgrade of
    events_ewma_hourly for series with drift.

    The recurrence l_t = ⌊(y_t + l_{t−1} + b_{t−1})/2⌋,
    b_t = ⌊(b_{t−1} + l_t − l_{t−1})/2⌋ is inherently SEQUENTIAL per
    key, so it runs as an Arrow ``applyInPandas`` grouped fold over the
    PRE-AGGREGATED hourly table — each group is ≤ |hours| rows (the
    distributed work is the hourly aggregation; the fold is O(hours)
    per event type). Pure integer floor arithmetic (Python ``//`` = floor;
    the oracle replays the exact recurrence as a RECURSIVE CTE with
    ``floor(x/2.0)`` — exact for |x| < 2⁵²), so every row is
    bit-identical cross-engine."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    hourly = (
        _t(spark, sf, "events")
        .groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
        )
        .agg(
            # NULL-valued events contribute 0 revenue, NOT a NULL hour:
            # an all-NULL hour would make cents NULL → NaN → int() crash
            # in the Arrow fold, and dropping the hour would change the
            # series grid (r8 NULL-injection audit).
            F.sum(
                F.coalesce(
                    F.round(F.col("value") * 100).cast("long"), F.lit(0)
                )
            ).alias("cents")
        )
        .select("event_type", F.unix_millis("h").alias("hour_ms"), "cents")
    )

    schema = StructType(
        [
            StructField("event_type", StringType()),
            StructField("hour_ms", LongType()),
            StructField("y_cents", LongType()),
            StructField("level_cents", LongType()),
            StructField("trend_cents", LongType()),
        ]
    )

    def _fold(pdf):
        import pandas as pd

        pdf = pdf.sort_values("hour_ms")
        lvl = trd = None
        levels, trends = [], []
        for y in pdf["cents"]:
            y = int(y)
            if lvl is None:
                lvl, trd = y, 0
            else:
                prev = lvl
                lvl = (y + lvl + trd) // 2
                trd = (trd + lvl - prev) // 2
            levels.append(lvl)
            trends.append(trd)
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "hour_ms": pdf["hour_ms"],
                "y_cents": pdf["cents"],
                "level_cents": levels,
                "trend_cents": trends,
            }
        )

    return hourly.groupBy("event_type").applyInPandas(_fold, schema)


_register(
    "events_holt_trend",
    """
    WITH RECURSIVE hourly AS MATERIALIZED (
      SELECT event_type,
             epoch_ms(date_trunc('hour', ts)) AS hour_ms,
             CAST(SUM(COALESCE(CAST(ROUND(value * 100) AS BIGINT), 0))
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    rn AS MATERIALIZED (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY hour_ms) AS r
      FROM hourly
    ),
    holt AS (
      SELECT event_type, r, hour_ms, cents,
             cents AS lvl, CAST(0 AS BIGINT) AS trd
      FROM rn WHERE r = 1
      UNION ALL
      SELECT h.event_type, h.r, h.hour_ms, h.cents,
             CAST(floor((h.cents + s.lvl + s.trd) / 2.0) AS BIGINT),
             CAST(floor((s.trd
                   + CAST(floor((h.cents + s.lvl + s.trd) / 2.0) AS BIGINT)
                   - s.lvl) / 2.0) AS BIGINT)
      FROM rn h JOIN holt s
        ON s.event_type = h.event_type AND h.r = s.r + 1
    )
    SELECT event_type, hour_ms, cents AS y_cents,
           lvl AS level_cents, trd AS trend_cents
    FROM holt
    """,
    doc="Holt level+trend smoothing of hourly revenue per event type "
    "[ext/timeseries]: alpha=beta=1/2 in pure integer floor arithmetic "
    "- the sequential recurrence runs as an Arrow grouped fold over the "
    "pre-aggregated hourly table (O(hours) per key), the oracle "
    "replays it as a RECURSIVE CTE. Bit-identical cross-engine.",
)(_events_holt_trend)


#: Near-duplicate invoice pair predicate — ONE fragment for both the
#: pair-screen oracle and the cluster oracle (a tolerance change edits
#: exactly one string; the Spark side shares _orders_near_duplicate_
#: invoices the same way).
_INVOICE_PAIR_WHERE = (
    "abs(a.cents - b.cents) * 200 <= a.cents + b.cents"
    " AND abs(a.day - b.day) <= 3"
)


def _orders_near_duplicate_invoices(spark: SparkSession, sf: str) -> DataFrame:
    """Record-linkage screen for near-duplicate invoices: order pairs of
    the SAME customer whose totals differ ≤ 1% (symmetric: 200·|Δ| ≤
    p₁+p₂, exact cents inequality — no float percentage) and whose
    order dates are ≤ 3 days apart — the double-billing / retry-dup
    audit every billing pipeline runs.

    Blocking = the customer equi-join (pairs bounded by per-customer
    order count, never |orders|²); both predicates are exact integer
    compares; day deltas from epoch-day integers."""
    o = _t(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.datediff(
            F.col("o_orderdate"), F.lit("1970-01-01").cast("timestamp")
        ).cast("long").alias("day"),
    )
    a, b = o.alias("a"), o.alias("b")
    pair = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
    ).filter(
        (
            F.abs(F.col("a.cents") - F.col("b.cents")) * 200
            <= F.col("a.cents") + F.col("b.cents")
        )
        & (F.abs(F.col("a.day") - F.col("b.day")) <= 3)
    )
    return pair.select(
        F.col("a.o_custkey").alias("custkey"),
        F.col("a.o_orderkey").alias("order_a"),
        F.col("b.o_orderkey").alias("order_b"),
        F.col("a.cents").alias("cents_a"),
        F.col("b.cents").alias("cents_b"),
        (F.col("a.day") - F.col("b.day")).alias("day_delta"),
    )


_register(
    "orders_near_duplicate_invoices",
    f"""
    WITH o AS (
      SELECT o_custkey, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(datediff('day', TIMESTAMP '1970-01-01', o_orderdate)
               AS BIGINT) AS day
      FROM orders
    )
    SELECT a.o_custkey AS custkey,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.cents AS cents_a, b.cents AS cents_b,
           a.day - b.day AS day_delta
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
    WHERE {_INVOICE_PAIR_WHERE}
    """,
    doc="Near-duplicate invoice pairs [ext/analytics/linkage]: same "
    "customer, totals within 1% (exact symmetric cents inequality), "
    "dates within 3 days. Customer-key blocking bounds pairs by "
    "per-customer order counts; all predicates integer-exact.",
)(_orders_near_duplicate_invoices)


_register(
    "text_bigram_logprob",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    toks AS (
      SELECT doc_id, unnest(ws) AS w, unnest(generate_series(1, len(ws))) AS i
      FROM (SELECT doc_id, string_split(t, ' ') AS ws FROM norm)
    ),
    bi AS (
      SELECT a.doc_id, a.w AS x, b.w AS y
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    dtf AS (
      SELECT doc_id, x, y, COUNT(*) AS n FROM bi GROUP BY 1, 2, 3
    ),
    cxy AS (SELECT x, y, SUM(n) AS c_xy FROM dtf GROUP BY 1, 2),
    ctx AS (SELECT x, SUM(c_xy) AS ctx_x FROM cxy GROUP BY 1),
    vocab AS (
      SELECT COUNT(DISTINCT w) AS v FROM toks WHERE length(w) > 0
    )
    SELECT dtf.doc_id,
           CAST(SUM(dtf.n) AS BIGINT) AS n_bigrams,
           {ratio_round_sql(
               "CAST(SUM(CAST(ROUND(dtf.n * ln("
               "CAST(ctx.ctx_x + vocab.v AS DOUBLE)"
               " / CAST(cxy.c_xy + 1 AS DOUBLE)), 6)"
               " AS DECIMAL(28,6))) * 1000000 AS HUGEINT)",
               "CAST(SUM(dtf.n) * 1000000 AS HUGEINT)",
               4,
           )} AS avg_nll
    FROM dtf
    JOIN cxy ON cxy.x = dtf.x AND cxy.y = dtf.y
    JOIN ctx ON ctx.x = dtf.x
    CROSS JOIN vocab
    GROUP BY dtf.doc_id
    """,
    doc="Bigram LM fit per document [ext/text]: avg NLL under the "
    "corpus's add-1-smoothed bigram distribution (the conditional "
    "upgrade of the unigram entry; KenLM-lineage perplexity filter). "
    "1e-6-grid rounded terms summed as DECIMAL, final average via "
    "ratio_round. operators/text.py::bigram_logprob.",
)(lambda spark, sf: _text.bigram_logprob(_t(spark, sf, "documents")))


def _markov_prediction_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    """Next-event prediction eval for the first-order Markov model: per
    context event_type, predict the argmax next type from the
    transition matrix and score it against all observed transitions —
    the self-consistency ceiling of a Markov recommender (accuracy =
    the modal row share). Derives entirely from the |types|²-row
    transition table (checkpointed inside event_transitions); argmax by
    agg-only min_by with a type tie-break; accuracy is an exact integer
    ratio."""
    tm = _rel.event_transitions(_t(spark, sf, "events")).localCheckpoint(
        eager=False
    )
    pred = tm.groupBy("event_type").agg(
        F.min_by(
            F.col("next_type"), F.struct(-F.col("n_pair"), F.col("next_type"))
        ).alias("predicted_next")
    )
    return (
        tm.join(F.broadcast(pred), "event_type")
        .groupBy("event_type", "predicted_next")
        .agg(
            F.sum("n_pair").alias("n_transitions"),
            F.sum(
                F.when(
                    F.col("next_type") == F.col("predicted_next"),
                    F.col("n_pair"),
                ).otherwise(F.lit(0))
            ).alias("n_correct"),
        )
        .select(
            "event_type",
            "predicted_next",
            F.col("n_transitions").cast("long").alias("n_transitions"),
            F.col("n_correct").cast("long").alias("n_correct"),
            ratio_round(
                F.col("n_correct"), F.col("n_transitions"), 4
            ).alias("accuracy"),
        )
    )


_register(
    "markov_prediction_accuracy",
    f"""
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    pairs AS (
      SELECT event_type, next_type, COUNT(*) AS n_pair
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    pred AS (
      SELECT event_type, next_type AS predicted_next
      FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY event_type
              ORDER BY n_pair DESC, next_type) AS rn
            FROM pairs)
      WHERE rn = 1
    )
    SELECT p.event_type, pr.predicted_next,
           CAST(SUM(p.n_pair) AS BIGINT) AS n_transitions,
           CAST(SUM(CASE WHEN p.next_type = pr.predicted_next
                         THEN p.n_pair ELSE 0 END) AS BIGINT) AS n_correct,
           {ratio_round_sql(
               "SUM(CASE WHEN p.next_type = pr.predicted_next"
               " THEN p.n_pair ELSE 0 END)",
               "SUM(p.n_pair)", 4)} AS accuracy
    FROM pairs p JOIN pred pr USING (event_type)
    GROUP BY 1, 2
    """,
    doc="Markov next-event prediction accuracy [ext/analytics/eval]: "
    "argmax-of-row prediction (count desc, type asc tie-break) scored "
    "over all observed transitions - the modal-row-share ceiling of a "
    "first-order recommender. Derives from the |types|^2 transition "
    "table; exact integer ratios.",
)(_markov_prediction_accuracy)


def _embedding_label_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-QA outlier screen: the 20 vectors LEAST similar to
    their own label's centroid (lowest cosine) — mislabeled or corrupt
    embeddings surface here before they poison contrastive training or
    semantic dedup.

    Exactness: vectors quantize to 1e-6-unit integers (floor — the
    dim_covariance rule); the label centroid is represented UNSCALED as
    the per-dim integer SUM (cos is scale-invariant, so dividing by n
    is pointless float risk); dot and norm sums are exact DECIMAL
    integer sums (order-independent), cosine = int / (sqrt·sqrt) is a
    transcendental of bit-identical integers (ULP-only), ranked with a
    vec_id tie-break.

    Plan: one posexplode pass feeds BOTH the per-(label, dim) centroid
    sums (map-side combined, |labels|·D rows, broadcast back) and the
    per-vector dot/norm aggregation — the quantized component table is
    checkpointed for its two consumers. No N×N pairs anywhere: the
    workload is |corpus|·D rows through two aggregates."""
    emb = _t(spark, sf, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("dim", "val"),
    ).select(
        "vec_id",
        "label",
        "dim",
        F.floor(F.col("val").cast("double") * 1e6).cast("long").alias("qv"),
    ).localCheckpoint(eager=False)
    cent = q.groupBy("label", "dim").agg(
        F.sum(F.col("qv").cast("decimal(38,0)")).alias("s")
    )
    per_vec = (
        q.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(
                F.col("qv").cast("decimal(38,0)") * F.col("s")
            ).alias("dot"),
            F.sum(
                F.col("qv").cast("decimal(38,0)") * F.col("qv")
            ).alias("qq"),
        )
    )
    ss = cent.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("ss")
    )
    scored = per_vec.join(F.broadcast(ss), "label").withColumn(
        "cos",
        F.col("dot").cast("double")
        / (
            F.sqrt(F.col("qq").cast("double"))
            * F.sqrt(F.col("ss").cast("double"))
        ),
    )
    return (
        scored.orderBy(F.asc("cos"), F.asc("vec_id"))
        .limit(20)
        .select(
            "vec_id",
            "label",
            F.round("cos", 4).alias("centroid_cosine"),
        )
    )


_register(
    "embedding_label_outliers",
    """
    WITH q AS (
      SELECT vec_id, label, u.i - 1 AS dim,
             CAST(floor(CAST(u.v AS DOUBLE) * 1e6) AS BIGINT) AS qv
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS i) u
    ),
    cent AS (
      SELECT label, dim, SUM(CAST(qv AS HUGEINT)) AS s
      FROM q GROUP BY 1, 2
    ),
    per_vec AS (
      SELECT q.vec_id, q.label,
             SUM(CAST(q.qv AS HUGEINT) * c.s) AS dot,
             SUM(CAST(q.qv AS HUGEINT) * q.qv) AS qq
      FROM q JOIN cent c ON c.label = q.label AND c.dim = q.dim
      GROUP BY 1, 2
    ),
    ss AS (SELECT label, SUM(s * s) AS ss FROM cent GROUP BY 1)
    SELECT vec_id, label,
           ROUND(CAST(dot AS DOUBLE)
                 / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(ss.ss AS DOUBLE))),
                 4) AS centroid_cosine
    FROM per_vec JOIN ss USING (label)
    ORDER BY CAST(dot AS DOUBLE)
             / (sqrt(CAST(qq AS DOUBLE)) * sqrt(CAST(ss.ss AS DOUBLE))),
             vec_id
    LIMIT 20
    """,
    doc="Embedding outlier screen [ext/similarity/eval]: bottom-20 "
    "vectors by cosine to their own label centroid (mislabel/corruption "
    "QA). Integer-quantized components, UNSCALED integer centroid sums "
    "(cosine is scale-invariant), exact DECIMAL dot/norms, ULP-only "
    "cosine, vec_id tie-break. One posexplode pass, two aggregates, "
    "centroids broadcast - no pair joins.",
)(_embedding_label_outliers)


def _shipping_lag_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier-shaped survival curve of order→ship lag: for each
    observed lag day t, how many lineitems ship exactly at t and what
    fraction is still unshipped after t — the fulfillment-SLA curve.
    No censoring in the fixture, so S(t) = 1 − CDF(t) as exact integer
    ratios. The fact join prunes to two columns, collapses to the
    ≤ |distinct lag days| dimension table, and the reverse cumulative
    runs over that dimension only."""
    from pyspark.sql import Window as _W

    o = _t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    lag = li.join(
        o, li["l_orderkey"] == o["o_orderkey"]
    ).select(
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast(
            "long"
        ).alias("lag_days")
    )
    per_day = lag.groupBy("lag_days").agg(F.count(F.lit(1)).alias("n_at"))
    w = _W.orderBy("lag_days").rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    total_w = _W.rowsBetween(
        _W.unboundedPreceding, _W.unboundedFollowing
    )
    return per_day.select(
        "lag_days",
        F.col("n_at").cast("long").alias("n_shipped_at"),
        (F.sum("n_at").over(total_w) - F.sum("n_at").over(w))
        .cast("long")
        .alias("n_surviving"),
        ratio_round(
            F.sum("n_at").over(total_w) - F.sum("n_at").over(w),
            F.sum("n_at").over(total_w),
            4,
        ).alias("survival"),
    )


_register(
    "shipping_lag_survival",
    f"""
    WITH lag AS (
      SELECT CAST(datediff('day', o.o_orderdate, l.l_shipdate) AS BIGINT)
               AS lag_days
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    per_day AS (
      SELECT lag_days, COUNT(*) AS n_at FROM lag GROUP BY 1
    ),
    cum AS (
      SELECT lag_days, n_at,
             SUM(n_at) OVER () AS total,
             SUM(n_at) OVER (ORDER BY lag_days
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cdf
      FROM per_day
    )
    SELECT lag_days,
           CAST(n_at AS BIGINT) AS n_shipped_at,
           CAST(total - cdf AS BIGINT) AS n_surviving,
           {ratio_round_sql('total - cdf', 'total', 4)} AS survival
    FROM cum
    """,
    doc="Order-to-ship lag survival curve [ext/analytics]: S(t) = "
    "fraction unshipped after t days (1-CDF, no censoring), exact "
    "integer ratios. Fact join prunes to 2 columns, collapses to the "
    "lag-day dimension before any window.",
)(_shipping_lag_survival)


def _orders_pareto_front(spark: SparkSession, sf: str) -> DataFrame:
    """2-D skyline (Pareto front) per market segment: orders not
    dominated on (lower total price, more recent order date) by any
    other order of the segment — the classic skyline operator
    (Börzsönyi et al. 2001), 2-D-specialized to a LEVEL-aggregate
    sort-filter instead of the O(n²) dominance pair join.

    Shape (review-hardened): orders first collapse to one row per
    (segment, price-cents) level — max date per level, map-side
    combined — so the skyline window runs over the AGGREGATED level
    table, never raw fact rows (a per-segment window over raw orders
    funnels ~1/|segments| of the fact table into one sort task at
    100 TB). A level is on the front iff its max date strictly exceeds
    every STRICTLY-cheAper level's max date (RANGE frame ending at -1
    on integer cents = cents < current); front members are recovered
    by an equi-join back on (segment, cents, date). Tie semantics are
    the true skyline's: equal-(price, date) co-optimal orders ALL stay
    (mutually non-dominating), same-price-older-date orders drop
    (dominated on the date axis), same-date-cheaper wins (dominated on
    price)."""
    from pyspark.sql import Window as _W

    o = (
        _t(spark, sf, "orders")
        .join(
            _t(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.unix_millis("o_orderdate").alias("date_ms"),
        )
    )
    lv = o.groupBy("c_mktsegment", "cents").agg(
        F.max("date_ms").alias("mx")
    )
    w = _W.partitionBy("c_mktsegment").orderBy(F.asc("cents")).rangeBetween(
        _W.unboundedPreceding, -1
    )
    front_lv = (
        lv.withColumn("max_prev", F.max("mx").over(w))
        .filter(
            F.col("max_prev").isNull() | (F.col("mx") > F.col("max_prev"))
        )
        # rename before joining back to the lineage parent: front_lv
        # derives FROM o, and same-name columns would be ambiguous
        .select(
            F.col("c_mktsegment").alias("f_seg"),
            F.col("cents").alias("f_cents"),
            F.col("mx").alias("f_mx"),
        )
    )
    return o.join(
        front_lv,
        (F.col("c_mktsegment") == F.col("f_seg"))
        & (F.col("cents") == F.col("f_cents"))
        & (F.col("date_ms") == F.col("f_mx")),
    ).select("c_mktsegment", "o_orderkey", "cents", "date_ms")


_register(
    "orders_pareto_front",
    """
    WITH o AS (
      SELECT c.c_mktsegment, o.o_orderkey,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents,
             epoch_ms(o.o_orderdate) AS date_ms
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    lv AS (
      SELECT c_mktsegment, cents, MAX(date_ms) AS mx
      FROM o GROUP BY 1, 2
    ),
    front_lv AS (
      SELECT * FROM (
        SELECT c_mktsegment, cents, mx,
               MAX(mx) OVER (
                 PARTITION BY c_mktsegment ORDER BY cents
                 RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS max_prev
        FROM lv)
      WHERE max_prev IS NULL OR mx > max_prev
    )
    SELECT o.c_mktsegment, o.o_orderkey, o.cents, o.date_ms
    FROM o JOIN front_lv f
      ON o.c_mktsegment = f.c_mktsegment
     AND o.cents = f.cents AND o.date_ms = f.mx
    """,
    doc="2-D skyline / Pareto front per segment [ext/analytics]: orders "
    "undominated on (cheaper, more recent). Level-aggregate rewrite: "
    "per-(segment, cents) max-date levels (map-side combined) feed the "
    "skyline window - never raw fact rows - and members join back by "
    "equi-key; true tie semantics (equal co-optimal orders all kept). "
    "Exact cents grid, epoch-ms dates.",
)(_orders_pareto_front)


def _events_ab_test_report(spark: SparkSession, sf: str) -> DataFrame:
    """A/B experimentation readout: users hash-split 50/50 by md5 (the
    dataset_hash_split construction — assignment is reproducible, no
    RNG), conversion = user did ≥1 purchase; the report gives per-arm
    rates and the two-proportion z² statistic.

    z² = (p_a−p_b)² / (p̂(1−p̂)(1/n_a+1/n_b)) is computed from ONE
    exact integer ratio: z² = (c_a·n_b − c_b·n_a)² · N /
    (n_a·n_b·C·(N−C)) with C = c_a+c_b, N = n_a+n_b — no float
    intermediates, rounded via ratio_round (significant at z² > 3.84 ⇔
    p < 0.05, flagged with an exact cross-multiplied compare). Per-user
    conversion is a map-side-combined aggregate; the report is one row."""
    ev = _t(spark, sf, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "purchase").cast("long")
        ).alias("converted")
    )
    arm = _sampling.hash_bucket(F.col("user_id"), "ab", 2)
    # 2-row aggregate with two consumers (the a/b branch filters) — an
    # un-checkpointed version ran the whole events pipeline twice with
    # the md5 arm predicate pushed into both scans (the multi-consumer
    # rule; review-caught).
    arms = (
        per_user.select(arm.alias("arm"), F.col("converted"))
        .groupBy("arm")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("converted").alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    a = arms.filter(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("c").alias("c_a")
    )
    b = arms.filter(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("c").alias("c_b")
    )
    row = a.crossJoin(F.broadcast(b))
    na, nb = F.col("n_a").cast("decimal(38,0)"), F.col("n_b").cast("decimal(38,0)")
    ca, cb = F.col("c_a").cast("decimal(38,0)"), F.col("c_b").cast("decimal(38,0)")
    nn = na + nb
    cc = ca + cb
    diff = ca * nb - cb * na
    z2_num = diff * diff * nn
    z2_den = na * nb * cc * (nn - cc)
    return row.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("c_a").cast("long").alias("conversions_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("c_b").cast("long").alias("conversions_b"),
        ratio_round(ca * 10000, na, 4).alias("rate_a_bps"),
        ratio_round(cb * 10000, nb, 4).alias("rate_b_bps"),
        # degenerate pooled rate (C = 0 or C = N, e.g. every user
        # converts) → z undefined: NULL, never a division by zero
        F.when(z2_den == 0, F.lit(None)).otherwise(
            ratio_round(z2_num, z2_den, 4)
        ).alias("z_squared"),
        ((z2_den > 0) & (z2_num * 100 > z2_den * 384)).alias(
            "significant_05"
        ),
    )


_register(
    "events_ab_test_report",
    f"""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    armed AS (
      SELECT CAST(('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)),
                                  1, 7)) AS BIGINT) % 2 AS arm,
             converted
      FROM per_user
    ),
    arms AS (
      SELECT arm, COUNT(*) AS n, SUM(converted) AS c
      FROM armed GROUP BY arm
    ),
    row AS (
      SELECT a.n AS n_a, a.c AS c_a, b.n AS n_b, b.c AS c_b
      FROM (SELECT * FROM arms WHERE arm = 0) a,
           (SELECT * FROM arms WHERE arm = 1) b
    )
    SELECT CAST(n_a AS BIGINT) AS n_a,
           CAST(c_a AS BIGINT) AS conversions_a,
           CAST(n_b AS BIGINT) AS n_b,
           CAST(c_b AS BIGINT) AS conversions_b,
           {ratio_round_sql('c_a * 10000', 'n_a', 4)} AS rate_a_bps,
           {ratio_round_sql('c_b * 10000', 'n_b', 4)} AS rate_b_bps,
           CASE WHEN CAST(n_a AS HUGEINT) * n_b * (c_a + c_b)
                     * (n_a + n_b - c_a - c_b) = 0 THEN NULL
                ELSE {ratio_round_sql(
               "CAST(c_a * n_b - c_b * n_a AS HUGEINT)"
               " * (c_a * n_b - c_b * n_a) * (n_a + n_b)",
               "CAST(n_a AS HUGEINT) * n_b * (c_a + c_b)"
               " * (n_a + n_b - c_a - c_b)",
               4)} END AS z_squared,
           CAST(n_a AS HUGEINT) * n_b * (c_a + c_b)
             * (n_a + n_b - c_a - c_b) > 0
           AND CAST(c_a * n_b - c_b * n_a AS HUGEINT)
             * (c_a * n_b - c_b * n_a) * (n_a + n_b) * 100
             > CAST(n_a AS HUGEINT) * n_b * (c_a + c_b)
               * (n_a + n_b - c_a - c_b) * 384 AS significant_05
    FROM row
    """,
    doc="A/B test readout [ext/analytics/eval]: md5 50/50 user split, "
    "purchase-conversion rates (basis points) and the two-proportion "
    "z^2 statistic as ONE exact integer ratio - significance flagged "
    "by cross-multiplied compare against 3.84 (p<0.05), no float "
    "intermediates anywhere.",
)(_events_ab_test_report)


def _dataset_sharding_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Export-layout planner: md5-assign every document to one of
    ceil(source_bytes / target) shards per source and report per-shard
    doc/byte fills — the pre-write step of a 100 TB corpus export
    (uniform hash sharding keeps writers independent; the report shows
    fill skew before any file is written). Shard counts derive from a
    per-source aggregate joined back (broadcast — |sources| rows);
    assignment is a pure md5 projection; the fill report is one more
    map-side-combined aggregate. Target here is 64 KiB to exercise
    multi-shard sources at fixture scale (production: 1 GiB)."""
    target = 64 * 1024
    d = _t(spark, sf, "documents").select(
        "doc_id", "source", F.length("text").cast("long").alias("n_bytes")
    )
    per_src = d.groupBy("source").agg(F.sum("n_bytes").alias("total_bytes"))
    shards = per_src.select(
        "source",
        F.greatest(
            F.lit(1),
            F.ceil(F.col("total_bytes").cast("double") / target).cast(
                "long"
            ),
        ).alias("n_shards"),
    )
    assigned = d.join(F.broadcast(shards), "source").select(
        "source",
        "n_bytes",
        _sampling.hash_bucket(
            F.col("doc_id"), "shard", F.col("n_shards")
        ).alias("shard"),
    )
    return (
        assigned.groupBy("source", "shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bytes").alias("shard_bytes"),
        )
        .select(
            "source",
            F.col("shard").cast("long").alias("shard"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("shard_bytes").cast("long").alias("shard_bytes"),
        )
    )


_register(
    "dataset_sharding_plan",
    """
    WITH d AS (
      SELECT doc_id, source, CAST(length(text) AS BIGINT) AS n_bytes
      FROM documents
    ),
    shards AS (
      SELECT source,
             GREATEST(1, CAST(ceil(CAST(SUM(n_bytes) AS DOUBLE)
                                   / 65536) AS BIGINT)) AS n_shards
      FROM d GROUP BY source
    ),
    assigned AS (
      SELECT d.source, d.n_bytes,
             CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)),
                                  1, 7)) AS BIGINT) % s.n_shards AS shard
      FROM d JOIN shards s USING (source)
    )
    SELECT source,
           CAST(shard AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_bytes) AS BIGINT) AS shard_bytes
    FROM assigned GROUP BY source, shard
    """,
    doc="Export sharding plan [ext/pipeline]: per-source shard count "
    "from a byte budget, md5 doc->shard assignment (reproducible, "
    "writer-independent), per-shard fill report. One aggregate + one "
    "broadcast join + one aggregate.",
)(_dataset_sharding_plan)


def _customer_kanonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy audit: k-anonymity of the customer table under the
    quasi-identifier (nation, market segment, account-balance decile
    bucket) — groups smaller than k = 5 are re-identifiable and must be
    suppressed or generalized before the table leaves the boundary.
    Reports per-QI-group size + flag, plus each group's share of the
    table. One map-side-combined groupBy over the dimension table;
    bucketing is exact integer floor on the cents grid."""
    c = _t(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            F.round(F.col("c_acctbal") * 100).cast("long") / F.lit(100000)
        ).cast("long").alias("bal_bucket"),
    )
    # The scalar total derives from the SMALL grouped table (one
    # dimension scan), which is checkpointed for its two consumers —
    # the important_part_values pattern; review-caught double scan.
    grouped = (
        c.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .localCheckpoint(eager=False)
    )
    total = grouped.agg(F.sum("group_size").alias("n_total"))
    return (
        grouped.crossJoin(F.broadcast(total))
        .select(
            "c_nationkey",
            "c_mktsegment",
            "bal_bucket",
            F.col("group_size").cast("long").alias("group_size"),
            (F.col("group_size") < 5).alias("reidentifiable"),
            ratio_round(
                F.col("group_size") * 10000, F.col("n_total"), 4
            ).alias("share_bps"),
        )
    )


def _customer_ldiversity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy audit: DISTINCT l-diversity of the customer table —
    completes the triad with ``customer_kanonymity_audit`` and
    ``customer_tcloseness_audit``. QI here is (nation, balance bucket)
    with market segment as the SENSITIVE attribute (k-anonymity alone
    can't stop attribute disclosure: a group of 50 that is ALL
    'BUILDING' leaks every member's segment). Per QI group: size, the
    number of distinct sensitive values (l), a below-l flag (l < 3),
    and the top sensitive value's share in basis points (the
    probabilistic-disclosure risk, an exact grid quotient via
    ratio_round).

    Scale shape: aggregate at (QI, sensitive) level FIRST — map-side
    combine collapses each task to the distinct-combination count, so
    no distinct-heavy shuffle — then roll up to QI groups (l = row
    count, size = Σ, max = the modal count). Both aggregates are
    sublinear in the table."""
    c = _t(spark, sf, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(
            F.round(F.col("c_acctbal") * 100).cast("long") / F.lit(100000)
        ).cast("long").alias("bal_bucket"),
    )
    per_sv = c.groupBy("c_nationkey", "bal_bucket", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_sv")
    )
    return per_sv.groupBy("c_nationkey", "bal_bucket").agg(
        F.sum("n_sv").cast("long").alias("group_size"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
        (F.count(F.lit(1)) < 3).alias("below_l"),
        ratio_round(F.max("n_sv") * 10000, F.sum("n_sv"), 4).alias(
            "top_share_bps"
        ),
    )


_register(
    "customer_ldiversity_audit",
    f"""
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
               AS BIGINT) AS bal_bucket
      FROM customer
    ),
    sv AS (
      SELECT c_nationkey, bal_bucket, c_mktsegment, COUNT(*) AS n_sv
      FROM c GROUP BY 1, 2, 3
    )
    SELECT c_nationkey, bal_bucket,
           CAST(SUM(n_sv) AS BIGINT) AS group_size,
           CAST(COUNT(*) AS BIGINT) AS l_distinct,
           COUNT(*) < 3 AS below_l,
           {ratio_round_sql('MAX(n_sv) * 10000', 'SUM(n_sv)', 4)}
             AS top_share_bps
    FROM sv GROUP BY 1, 2
    """,
    doc="Distinct l-diversity audit (l=3) over (nation, balance-decile) "
    "quasi-identifiers with market segment as the sensitive attribute "
    "[ext/analytics/privacy]: completes the k-anonymity/l-diversity/"
    "t-closeness triad - group sizes, distinct-sensitive counts, "
    "below-l flags, and the modal sensitive share in bps (exact grid "
    "quotient, ratio_round). Two-level aggregate: (QI, sensitive) "
    "counts map-side-combine before the QI rollup - no distinct-heavy "
    "shuffle at any scale.",
)(_customer_ldiversity_audit)


_register(
    "customer_kanonymity_audit",
    f"""
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(CAST(ROUND(c_acctbal * 100) AS BIGINT) / 100000.0)
               AS BIGINT) AS bal_bucket
      FROM customer
    ),
    total AS (SELECT COUNT(*) AS n_total FROM c)
    SELECT c_nationkey, c_mktsegment, bal_bucket,
           CAST(COUNT(*) AS BIGINT) AS group_size,
           COUNT(*) < 5 AS reidentifiable,
           {ratio_round_sql('COUNT(*) * 10000', 'MAX(n_total)', 4)}
             AS share_bps
    FROM c CROSS JOIN total
    GROUP BY 1, 2, 3
    """,
    doc="k-anonymity audit (k=5) over (nation, segment, balance-decile) "
    "quasi-identifiers [ext/analytics/privacy]: group sizes, "
    "re-identifiability flags, table shares. Exact integer bucket on "
    "the cents grid; one map-side-combined aggregate.",
)(_customer_kanonymity_audit)


def _customer_merge_upsert_report(spark: SparkSession, sf: str) -> DataFrame:
    """Warehouse MERGE (SCD type-1 upsert) expressed as a join: the
    customer dimension absorbs a per-customer revenue delta from
    orders — MATCHED rows update their balance, source-only rows would
    insert, target-only rows pass through — and the report aggregates
    the merge outcome per nation (rows matched / unchanged, balance
    before/after on the exact cents grid).

    This is the Delta-Lake-MERGE shape without a table format: a
    customer-keyed equi-join (co-partitioned at scale), all arithmetic
    in integer cents, one dimension-sized aggregate for the report.
    Orders always reference existing customers, so inserts are
    structurally zero here — the branch still exists in the plan."""
    c = _t(spark, sf, "customer").select(
        "c_custkey",
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    delta = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(cents(F.sum("o_totalprice")).alias("rev_cents"))
    )
    merged = c.join(
        delta, c["c_custkey"] == delta["o_custkey"], "full_outer"
    ).select(
        F.coalesce(F.col("c_custkey"), F.col("o_custkey")).alias("key"),
        "c_nationkey",
        F.col("bal_cents"),
        F.col("rev_cents"),
        F.when(
            F.col("c_custkey").isNotNull() & F.col("o_custkey").isNotNull(),
            F.lit("updated"),
        )
        .when(F.col("c_custkey").isNotNull(), F.lit("unchanged"))
        .otherwise(F.lit("inserted"))
        .alias("action"),
        (
            F.coalesce(F.col("bal_cents"), F.lit(0))
            + F.coalesce(F.col("rev_cents"), F.lit(0))
        ).alias("new_bal_cents"),
    )
    return (
        merged.groupBy("c_nationkey", "action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal_cents").alias("bal_before_cents"),
            F.sum("new_bal_cents").alias("bal_after_cents"),
        )
        .select(
            "c_nationkey",
            "action",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("bal_before_cents").cast("long").alias("bal_before_cents"),
            F.col("bal_after_cents").cast("long").alias("bal_after_cents"),
        )
    )


_register(
    "customer_merge_upsert_report",
    f"""
    WITH c AS (
      SELECT c_custkey, c_nationkey,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    delta AS (
      SELECT o_custkey, {cents_sql('SUM(o_totalprice)')} AS rev_cents
      FROM orders GROUP BY o_custkey
    ),
    merged AS (
      SELECT c.c_nationkey,
             c.bal_cents,
             CASE WHEN c.c_custkey IS NOT NULL AND d.o_custkey IS NOT NULL
                  THEN 'updated'
                  WHEN c.c_custkey IS NOT NULL THEN 'unchanged'
                  ELSE 'inserted' END AS action,
             COALESCE(c.bal_cents, 0) + COALESCE(d.rev_cents, 0)
               AS new_bal_cents
      FROM c FULL OUTER JOIN delta d ON c.c_custkey = d.o_custkey
    )
    SELECT c_nationkey, action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(bal_cents) AS BIGINT) AS bal_before_cents,
           CAST(SUM(new_bal_cents) AS BIGINT) AS bal_after_cents
    FROM merged GROUP BY 1, 2
    """,
    doc="MERGE / SCD1 upsert report [ext/analytics/warehouse]: customer "
    "dim absorbs per-customer order revenue via a full-outer key join "
    "(matched=update, source-only=insert, target-only=unchanged), "
    "outcome aggregated per nation on the exact cents grid. The "
    "Delta-MERGE shape without a table format; key join co-partitions "
    "at scale.",
)(_customer_merge_upsert_report)


#: ln(1 + 1/d) / ln(10) for d = 1..9, embedded as repr literals so both
#: engines parse identical IEEE doubles (the HLL_ALPHA_M2 pattern).
_BENFORD_P = {d: float(__import__("math").log10(1 + 1 / d)) for d in range(1, 10)}


def _orders_benford_screen(spark: SparkSession, sf: str) -> DataFrame:
    """Benford's-law forensic screen on order totals: observed
    first-significant-digit counts vs the Benford expectation
    E_d = N·log10(1+1/d), with per-digit chi² contributions — the
    classic fabricated-amounts detector (synthetic uniform fixtures
    fail it loudly, which is itself the point of the screen).

    Determinism: the first digit comes from the INTEGER cents string
    (no float log10); expected counts are round(N·p_d) where p_d are
    embedded repr literals — one IEEE multiply of identical doubles,
    whose true value is irrational (off-grid, tie-free). The χ²
    contribution (O−E)²/E is then a ratio of exact integers →
    ratio_round."""
    o = _t(spark, sf, "orders").select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        ).cast("long").alias("digit")
    )
    # 9-row aggregate, two consumers (total + the crossJoin branch):
    # checkpoint instead of trusting a plan-dependent ReusedExchange.
    obs = (
        o.groupBy("digit")
        .agg(F.count(F.lit(1)).alias("observed"))
        .localCheckpoint(eager=False)
    )
    total = obs.agg(F.sum("observed").alias("n"))
    expected = F.round(
        F.col("n").cast("double")
        * F.element_at(
            F.create_map(
                *[
                    x
                    for d in range(1, 10)
                    for x in (F.lit(d), F.lit(_BENFORD_P[d]))
                ]
            ),
            F.col("digit").cast("int"),
        )
    ).cast("long")
    diff = F.col("observed") - F.col("expected")
    return (
        obs.crossJoin(F.broadcast(total))
        .withColumn("expected", expected)
        .select(
            "digit",
            F.col("observed").cast("long").alias("observed"),
            "expected",
            ratio_round(diff * diff, F.col("expected"), 4).alias(
                "chi2_contribution"
            ),
        )
    )


_register(
    "orders_benford_screen",
    f"""
    WITH o AS (
      SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders
    ),
    obs AS (SELECT digit, COUNT(*) AS observed FROM o GROUP BY digit),
    total AS (SELECT SUM(observed) AS n FROM obs),
    e AS (
      SELECT digit, observed,
             CAST(ROUND(CAST(n AS DOUBLE) * CASE digit
               {' '.join(f"WHEN {d} THEN CAST({_BENFORD_P[d]!r} AS DOUBLE)" for d in range(1, 10))}
             END) AS BIGINT) AS expected
      FROM obs CROSS JOIN total
    )
    SELECT digit,
           CAST(observed AS BIGINT) AS observed,
           expected,
           {ratio_round_sql(
               '(observed - expected) * (observed - expected)',
               'expected', 4)} AS chi2_contribution
    FROM e
    """,
    doc="Benford first-digit forensic screen on order totals "
    "[ext/analytics/forensics]: observed vs N*log10(1+1/d) expected "
    "counts + per-digit chi^2 contributions. First digit from the "
    "integer cents STRING (no float log10); Benford probabilities are "
    "embedded repr literals (the HLL alpha pattern) so the one float "
    "multiply is bit-identical; chi^2 terms are exact integer ratios.",
)(_orders_benford_screen)


#: Relaxation rounds of ``part_copurchase_hops``: its Spark loop and its oracle.
_HOPS_ROUNDS = 3


def _part_copurchase_hops(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-source BFS over the part co-purchase graph: hop distance
    from the 5 lowest-keyed seed parts within 3 rounds — the
    reachability/ego-net primitive under "related products" carousels
    and graph feature engineering.

    Frontier-relaxation form (the connected-components shape): dist
    table starts at the seeds and each round min-folds
    dist(u)+1 over edges into dist(v) — |edges|-sized shuffles per
    round, dist table checkpointed per round (multi-consumer + unbounded
    lineage). A FIXED round count keeps the answer deterministic and
    the oracle replayable as unrolled CTEs; parts beyond 3 hops are
    absent (unreachable-in-k semantics, documented)."""
    from .operators.graph import copurchase_pairs

    und = copurchase_pairs(_lineitem_1998(spark, sf)).localCheckpoint(eager=False)
    edges = und.union(
        und.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    seeds = (
        edges.select(F.col("src").alias("part"))
        .distinct()
        .orderBy("part")
        .limit(5)
        .select("part", F.lit(0).cast("long").alias("dist"))
    )
    dist = seeds.localCheckpoint(eager=False)
    for _ in range(_HOPS_ROUNDS):
        relax = (
            edges.join(dist, edges["src"] == dist["part"])
            .select(F.col("dst").alias("part"), (F.col("dist") + 1).alias("d"))
            .groupBy("part")
            .agg(F.min("d").alias("d"))
        )
        dist = (
            dist.join(relax, "part", "full_outer")
            .select(
                "part",
                F.least(
                    F.coalesce(F.col("dist"), F.lit(1 << 60)),
                    F.coalesce(F.col("d"), F.lit(1 << 60)),
                ).alias("dist"),
            )
            .localCheckpoint(eager=False)
        )
    return dist.select(F.col("part").alias("l_partkey"), "dist")


def _hops_oracle_sql() -> str:
    ctes = [
        """lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1998-01-01')""",
        """und AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
            FROM lp a JOIN lp b ON a.l_orderkey = b.l_orderkey
            AND a.l_partkey < b.l_partkey)""",
        "edges AS (SELECT src, dst FROM und"
        " UNION ALL SELECT dst, src FROM und)",
        """d0 AS (SELECT part, CAST(0 AS BIGINT) AS dist FROM (
            SELECT DISTINCT src AS part FROM edges ORDER BY part LIMIT 5))""",
    ]
    prev = "d0"
    for i in range(1, _HOPS_ROUNDS + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
          SELECT COALESCE(p.part, r.part) AS part,
                 LEAST(COALESCE(p.dist, 1152921504606846976),
                       COALESCE(r.d, 1152921504606846976)) AS dist
          FROM {prev} p
          FULL OUTER JOIN (
            SELECT e.dst AS part, MIN(p.dist + 1) AS d
            FROM edges e JOIN {prev} p ON p.part = e.src
            GROUP BY e.dst
          ) r ON r.part = p.part)"""
        )
        prev = f"d{i}"
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT part AS l_partkey, dist FROM {prev}"
    )


_register(
    "part_copurchase_hops",
    _hops_oracle_sql(),
    doc="Multi-source BFS hop distances (3 rounds, 5 seed parts) over "
    "the co-purchase graph [ext/analytics/graph]: frontier relaxation "
    "with per-round min-fold (map-side combined) and checkpointed "
    "dist table - the connected-components iteration shape; oracle = "
    "unrolled CTEs. Unreachable-in-3 parts absent by definition.",
)(_part_copurchase_hops)


def _orders_rolling_ols_slope(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling 24-hour OLS revenue trend: for each hour, the
    least-squares slope of hourly revenue over the trailing 24 observed
    hours — the windowed version of monthly_revenue_trend (momentum /
    drift detection rather than one global fit).

    Exactness: hour index t (small ints) and cents y are exact; all five
    moment sums (n, Σt, Σy, Σty, Σt²) accumulate over the RANGE window
    as integers, slope = (nΣty − ΣtΣy)/(nΣt² − (Σt)²) is one integer
    ratio → ratio_round, NULL when the window is degenerate (n < 2 or
    zero variance — guarded on both engines). The corpus collapses to
    the |hours| dimension before the window (the hourly_anomaly idiom);
    hour indexes are epoch-hours so RANGE 23 PRECEDING is exact."""
    hourly = (
        _t(spark, sf, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
        .select(
            (F.unix_millis("h") / F.lit(3600000)).cast("long").alias("t"),
            "cents",
        )
    )
    from pyspark.sql import Window as _W

    w = _W.orderBy("t").rangeBetween(-23, 0)
    td = F.col("t").cast("decimal(38,0)")
    yd = F.col("cents").cast("decimal(38,0)")
    st = hourly.select(
        "t",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum(td).over(w).alias("sx"),
        F.sum(yd).over(w).alias("sy"),
        F.sum(td * yd).over(w).alias("sxy"),
        F.sum(td * td).over(w).alias("sx2"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx")
    return st.select(
        (F.col("t") * 3600).alias("hour_ts"),
        F.col("cents").alias("revenue_cents"),
        F.col("n").cast("long").alias("window_hours"),
        F.when(den == 0, F.lit(None))
        .otherwise(ratio_round(num, den, 4))
        .alias("slope_cents_per_hour"),
    )


_register(
    "orders_rolling_ols_slope",
    f"""
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
             CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    ),
    st AS (
      SELECT t, cents,
             COUNT(*) OVER w AS n,
             SUM(CAST(t AS HUGEINT)) OVER w AS sx,
             SUM(CAST(cents AS HUGEINT)) OVER w AS sy,
             SUM(CAST(t AS HUGEINT) * cents) OVER w AS sxy,
             SUM(CAST(t AS HUGEINT) * t) OVER w AS sx2
      FROM hourly
      WINDOW w AS (ORDER BY t RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT t * 3600 AS hour_ts,
           cents AS revenue_cents,
           CAST(n AS BIGINT) AS window_hours,
           CASE WHEN n * sx2 - sx * sx = 0 THEN NULL
                ELSE {ratio_round_sql(
                    'n * sxy - sx * sy', 'n * sx2 - sx * sx', 4)} END
             AS slope_cents_per_hour
    FROM st
    """,
    doc="Rolling 24 h OLS revenue slope per hour [ext/timeseries]: all "
    "five moment sums accumulate as integers over a RANGE window on "
    "the hourly dimension table; slope is one exact integer ratio, "
    "NULL on degenerate windows (guarded both engines).",
)(_orders_rolling_ols_slope)


def _docs_cas_chunk_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Content-addressable-storage planning: fixed-size 256-char chunk
    dedup across document payloads — the backup/CAS granularity BELOW
    document-level dedup (two near-identical docs share most chunks
    even when doc hashes differ). Reports per-source chunk counts,
    distinct chunks, and the storage-savings ratio.

    Chunking is substring arithmetic off one sequence explode (no
    UDFs); chunk identity is md5; distinct-per-source and totals are
    two map-side-combined aggregates over the chunk stream. Fixed-size
    chunking (not content-defined) keeps both engines trivially
    identical; a rolling-hash CDC chunker would slot into the same
    plan as a mapInPandas stage."""
    chunk_sz = 256
    # len > 0 on BOTH engines: Spark sequence(0, -1) would emit [0, -1]
    # for an empty doc (negative default step) where DuckDB's
    # generate_series emits nothing — a latent oracle divergence.
    # Conditional spread: the chunk-md5 stage is CPU-bound and
    # scan-rooted (the one-split-small-parquet rule).
    d = _rel.spread_if_few_splits(
        _t(spark, sf, "documents").select(
            "source", F.col("text"), F.length("text").alias("len")
        )
    ).filter(F.col("len") > 0)
    chunks = d.select(
        "source",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.col("len") - 1) / chunk_sz).cast("long"),
            )
        ).alias("ci"),
        "text",
    ).select(
        "source",
        F.md5(
            F.expr(f"substring(text, ci * {chunk_sz} + 1, {chunk_sz})")
        ).alias("chunk_md5"),
    )
    per_src = chunks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.countDistinct("chunk_md5").alias("n_distinct_chunks"),
    )
    return per_src.select(
        "source",
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_distinct_chunks").cast("long").alias("n_distinct_chunks"),
        ratio_round(
            (F.col("n_chunks") - F.col("n_distinct_chunks")) * 100,
            F.col("n_chunks"),
            4,
        ).alias("dedup_savings_pct"),
    )


_register(
    "docs_cas_chunk_dedup",
    f"""
    WITH d AS (
      SELECT source, text, length(text) AS len FROM documents
      WHERE length(text) > 0
    ),
    chunks AS (
      SELECT source,
             md5(substring(text, ci * 256 + 1, 256)) AS chunk_md5
      FROM d,
           LATERAL (SELECT unnest(generate_series(
             0, CAST(floor((len - 1) / 256.0) AS BIGINT))) AS ci) g
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT chunk_md5) AS BIGINT) AS n_distinct_chunks,
           {ratio_round_sql(
               '(COUNT(*) - COUNT(DISTINCT chunk_md5)) * 100',
               'COUNT(*)', 4)} AS dedup_savings_pct
    FROM chunks GROUP BY source
    """,
    doc="Content-addressable chunk dedup report [ext/dedup/storage]: "
    "fixed 256-char chunks, md5 identity, per-source savings ratio - "
    "sub-document dedup granularity (CAS/backup planning). Substring "
    "arithmetic off one sequence explode; two map-side-combined "
    "aggregates.",
)(_docs_cas_chunk_dedup)


def _user_out_of_order_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming-readiness audit: per-user out-of-order arrival profile
    — an event is LATE if its timestamp precedes the running max
    timestamp in arrival order (event_id) — plus each user's maximum
    backwards skew in ms. This is the measurement that sizes a
    Structured Streaming watermark: the p-max of `max_late_ms` IS the
    allowed lateness bound.

    Per-user windows only (arrival order is per-producer in practice);
    the running max is a plain window max — no rank functions; lateness
    flags and skews are exact integer/timestamp arithmetic."""
    from pyspark.sql import Window as _W

    ev = _t(spark, sf, "events").select(
        "user_id", "event_id", F.unix_millis("ts").alias("ts_ms")
    )
    w = _W.partitionBy("user_id").orderBy("event_id").rowsBetween(
        _W.unboundedPreceding, -1
    )
    flagged = ev.select(
        "user_id",
        "ts_ms",
        F.max("ts_ms").over(w).alias("prev_max"),
    ).select(
        "user_id",
        (F.col("prev_max").isNotNull() & (F.col("ts_ms") < F.col("prev_max")))
        .cast("long")
        .alias("late"),
        F.when(
            F.col("prev_max").isNotNull() & (F.col("ts_ms") < F.col("prev_max")),
            F.col("prev_max") - F.col("ts_ms"),
        )
        .otherwise(F.lit(0))
        .alias("late_ms"),
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("late").alias("n_late"),
            F.max("late_ms").alias("max_late_ms"),
        )
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_late").cast("long").alias("n_late"),
            ratio_round(
                F.col("n_late") * 100, F.col("n_events"), 4
            ).alias("late_pct"),
            F.col("max_late_ms").cast("long").alias("max_late_ms"),
        )
    )


_register(
    "user_out_of_order_profile",
    f"""
    WITH ev AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
    ),
    flagged AS (
      SELECT user_id,
             CASE WHEN prev_max IS NOT NULL AND ts_ms < prev_max
                  THEN 1 ELSE 0 END AS late,
             CASE WHEN prev_max IS NOT NULL AND ts_ms < prev_max
                  THEN prev_max - ts_ms ELSE 0 END AS late_ms
      FROM (SELECT user_id, ts_ms,
                   MAX(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING) AS prev_max
            FROM ev)
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(late) AS BIGINT) AS n_late,
           {ratio_round_sql('SUM(late) * 100', 'COUNT(*)', 4)} AS late_pct,
           CAST(MAX(late_ms) AS BIGINT) AS max_late_ms
    FROM flagged GROUP BY user_id
    """,
    doc="Out-of-order arrival profile per user [ext/analytics/streaming]"
    ": late = ts below the running arrival-order max; late share + max "
    "backwards skew in ms - the measurement that sizes a watermark. "
    "Per-user windows, exact arithmetic.",
)(_user_out_of_order_profile)


def _nation_revenue_yoy(spark: SparkSession, sf: str) -> DataFrame:
    """Year-over-year revenue growth per nation: lag comparison over the
    (nation, year) aggregate — growth as an exact integer cents ratio
    (ratio_round; NULL for a nation's first year). The fact table
    collapses to |nations|·|years| rows before the lag window."""
    from pyspark.sql import Window as _W

    rev = (
        _t(spark, sf, "orders")
        .join(
            _t(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg(cents(F.sum("o_totalprice")).alias("rev_cents"))
    )
    w = _W.partitionBy("nation").orderBy("yr")
    prev = F.lag("rev_cents").over(w)
    return rev.select(
        "nation",
        F.col("yr").cast("long").alias("yr"),
        "rev_cents",
        F.when(prev.isNull(), F.lit(None))
        .otherwise(
            ratio_round((F.col("rev_cents") - prev) * 100, prev, 4)
        )
        .alias("yoy_growth_pct"),
    )


_register(
    "nation_revenue_yoy",
    f"""
    WITH rev AS (
      SELECT c.c_nationkey AS nation,
             year(o.o_orderdate) AS yr,
             {cents_sql('SUM(o.o_totalprice)')} AS rev_cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    )
    SELECT nation,
           CAST(yr AS BIGINT) AS yr,
           rev_cents,
           CASE WHEN LAG(rev_cents) OVER w IS NULL THEN NULL
                ELSE {ratio_round_sql(
                    '(rev_cents - LAG(rev_cents) OVER w) * 100',
                    'LAG(rev_cents) OVER w', 4)} END AS yoy_growth_pct
    FROM rev
    WINDOW w AS (PARTITION BY nation ORDER BY yr)
    """,
    doc="Year-over-year revenue growth per nation [ext/analytics]: lag "
    "over the (nation, year) aggregate, growth as an exact cents "
    "ratio, NULL first year. Fact collapses to the dimension grid "
    "before the window.",
)(_nation_revenue_yoy)


def _gdpr_delete_impact(spark: SparkSession, sf: str) -> DataFrame:
    """Right-to-be-forgotten impact plan: for a deterministic deletion
    cohort (user/customer ids ≡ 0 mod 97 — the stand-in for an uploaded
    erasure list), report per table how many rows and what revenue/value
    mass would be purged — the audit every deletion pipeline emits
    BEFORE rewriting files. Each table contributes one aggregate over a
    pushed-down semi-predicate; no joins between fact tables. At scale
    the id predicate becomes a broadcast semi-join against the erasure
    list; the aggregate shape is unchanged."""
    def purge(table: str, key: str, value_cents: Column) -> DataFrame:
        return (
            _t(spark, sf, table)
            .filter(F.col(key) % 97 == 0)
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct(key).alias("n_subjects"),
                value_cents.alias("value_cents"),
            )
            .select(
                F.lit(table).alias("table_name"),
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_subjects").cast("long").alias("n_subjects"),
                F.coalesce(F.col("value_cents"), F.lit(0))
                .cast("long")
                .alias("value_cents"),
            )
        )

    return (
        purge("events", "user_id", F.sum(F.round(F.col("value") * 100).cast("long")))
        .unionByName(purge("orders", "o_custkey", cents(F.sum("o_totalprice"))))
        .unionByName(
            purge(
                "customer",
                "c_custkey",
                F.sum(F.round(F.col("c_acctbal") * 100).cast("long")),
            )
        )
    )


_register(
    "gdpr_delete_impact",
    f"""
    SELECT 'events' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_subjects,
           CAST(COALESCE(SUM(CAST(ROUND(value * 100) AS BIGINT)), 0)
             AS BIGINT) AS value_cents
    FROM events WHERE user_id % 97 = 0
    UNION ALL
    SELECT 'orders',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
           CAST(COALESCE({cents_sql('SUM(o_totalprice)')}, 0) AS BIGINT)
    FROM orders WHERE o_custkey % 97 = 0
    UNION ALL
    SELECT 'customer',
           CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT),
           CAST(COALESCE(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)), 0)
             AS BIGINT)
    FROM customer WHERE c_custkey % 97 = 0
    """,
    doc="Right-to-be-forgotten impact plan [ext/analytics/privacy]: "
    "rows/subjects/value mass per table for a deterministic erasure "
    "cohort (id % 97). Pushed-down predicate + one aggregate per "
    "table; becomes a broadcast semi-join against the erasure list at "
    "scale.",
)(_gdpr_delete_impact)


def _neyman_allocation_plan(spark: SparkSession, sf: str) -> DataFrame:
    """Neyman-optimal stratified sampling allocation over market
    segments: for a total sample budget n = 1000, allocate
    n_h ∝ N_h·σ_h (stratum size × stddev of order totals) — the
    survey-sampling upgrade of proportional stratification (big noisy
    strata get more budget).

    Exactness: σ_h enters as the INTEGER variance numerator
    V_h = N_h·Σx² − (Σx)² on the cents grid; the allocation weight is
    w_h = N_h·sqrt(V_h-per-unit) … computed as sqrt of exact integers
    (ULP-only) and the final n_h = round(1000·w_h/Σw) rounds a
    transcendental-factor quotient (off-grid, tie-free). Per-stratum
    moments are one map-side-combined aggregate; the Σw scalar
    broadcasts back."""
    o = (
        _t(spark, sf, "orders")
        .join(
            _t(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )
    cd = F.col("cents").cast("decimal(38,0)")
    per = o.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("nh"),
        F.sum(cd).alias("sx"),
        F.sum(cd * cd).alias("sx2"),
    ).localCheckpoint(eager=False)
    # weight w_h = N_h * σ_h = sqrt(N_h·(N_h·Σx² − Σx²… )) / 1 — use
    # w_h = sqrt(N_h · V_h) with V_h = N_h·Σx² − (Σx)² (∝ N_h²·var):
    # sqrt(N_h·V_h) = N_h^1.5·σ_h·… any monotone common scaling cancels
    # in the share, as long as BOTH engines use the identical formula.
    w_expr = F.sqrt(
        (
            F.col("nh").cast("decimal(38,0)")
            * (
                F.col("nh").cast("decimal(38,0)") * F.col("sx2")
                - F.col("sx") * F.col("sx")
            )
        ).cast("double")
    )
    # Snap each weight to the 1e-6 grid FIRST (sqrt outputs are
    # off-grid → tie-free), then sum/divide in exact integer units: a
    # raw double Σw would depend on partition fold order and the
    # share/allocation quotients would be unprotected grid ratios.
    wu = F.round(w_expr * 1e6).cast("decimal(38,0)")
    weighted = per.withColumn("wu", wu)
    total = weighted.agg(F.sum("wu").alias("wtu"))
    return (
        weighted.crossJoin(F.broadcast(total))
        .select(
            "c_mktsegment",
            F.col("nh").cast("long").alias("stratum_size"),
            ratio_round(F.col("wu") * 1000, F.col("wtu"), 0)
            .cast("long")
            .alias("allocated_n"),
            ratio_round(F.col("wu"), F.col("wtu"), 4).alias(
                "weight_share"
            ),
        )
    )


_register(
    "neyman_allocation_plan",
    f"""
    WITH o AS (
      SELECT c.c_mktsegment,
             CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per AS (
      SELECT c_mktsegment,
             COUNT(*) AS nh,
             SUM(CAST(cents AS HUGEINT)) AS sx,
             SUM(CAST(cents AS HUGEINT) * cents) AS sx2
      FROM o GROUP BY 1
    ),
    weighted AS (
      SELECT c_mktsegment, nh,
             CAST(ROUND(sqrt(CAST(CAST(nh AS HUGEINT)
                       * (CAST(nh AS HUGEINT) * sx2 - sx * sx)
                    AS DOUBLE)) * 1e6) AS HUGEINT) AS wu
      FROM per
    ),
    total AS (SELECT SUM(wu) AS wtu FROM weighted)
    SELECT c_mktsegment,
           CAST(nh AS BIGINT) AS stratum_size,
           CAST({ratio_round_sql('wu * 1000', 'wtu', 0)} AS BIGINT) AS allocated_n,
           {ratio_round_sql('wu', 'wtu', 4)} AS weight_share
    FROM weighted CROSS JOIN total
    """,
    doc="Neyman-optimal stratified allocation [ext/sampling]: "
    "n_h ~ N_h*sigma_h from exact integer cents moments; sqrt/share "
    "are transcendental-factor quotients of bit-identical inputs "
    "(off-grid, tie-free rounds). One aggregate + scalar broadcast.",
)(_neyman_allocation_plan)


def _users_sliding_hll_24h(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding-window distinct users: trailing-24-hour unique-user
    estimate for EVERY hour via HLL register merge — the classic
    hard streaming metric (exact sliding distinct needs the full id
    set per window; mergeable registers need 64 longs per hour) solved
    with the sketch-algebra the HLL family is built for: the trailing
    register is max(M_j) over the window, per bucket.

    Plan: per-(hour, bucket) register maxes (map-side combined, ≤ 64
    rows/hour), densified to the hour×bucket grid (dimension-sized:
    |hours|·64), one RANGE window per bucket over the grid, then a
    per-hour fold — the corpus is touched once; everything after is
    dimension-scale. md5-determinism keeps the whole thing
    ORACLE-CHECKED (cf. users_hll_estimate)."""
    from .operators.sketch import (
        HLL_M,
        HLL_RHO_CAP,
        _hll_est,
    )
    from .operators.dedup import md5_hash_pieces
    from pyspark.sql import Window as _W

    piece1, piece2 = md5_hash_pieces(
        F.concat(F.lit("hll:"), F.col("user_id").cast("string"))
    )
    rho = F.when(piece2 == 0, F.lit(HLL_RHO_CAP)).otherwise(
        F.lit(HLL_RHO_CAP) - F.length(F.bin(piece2))
    )
    regs_h = (
        _t(spark, sf, "events")
        .select(
            (F.unix_millis(F.date_trunc("hour", F.col("ts"))) / 3600000)
            .cast("long")
            .alias("t"),
            (piece1 % HLL_M).alias("b"),
            rho.alias("rho"),
        )
        .groupBy("t", "b")
        .agg(F.max("rho").alias("m"))
        .localCheckpoint(eager=False)
    )
    hours = regs_h.select("t").distinct()
    grid = hours.crossJoin(
        spark.range(HLL_M).select(F.col("id").cast("long").alias("b"))
    ).join(regs_h, ["t", "b"], "left")
    w = _W.partitionBy("b").orderBy("t").rangeBetween(-23, 0)
    merged = grid.select(
        "t", "b", F.max("m").over(w).alias("m24")
    )
    folded = merged.groupBy("t").agg(
        F.count(F.col("m24")).alias("n_regs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("m24").isNotNull(),
                    F.expr(f"shiftleft(1L, {HLL_RHO_CAP} - m24)"),
                )
            ),
            F.lit(0),
        ).alias("s_present"),
    )
    return folded.select(
        (F.col("t") * 3600).alias("hour_ts"),
        F.col("n_regs").cast("long").alias("n_regs"),
        F.round(
            _hll_est(F.col("n_regs"), F.col("s_present")), 4
        ).alias("est_users_24h"),
    )


_register(
    "users_sliding_hll_24h",
    f"""
    WITH ev AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  1, 7)) AS BIGINT) % 64 AS b,
             CAST(('0x' || substr(md5('hll:' || CAST(user_id AS VARCHAR)),
                                  8, 7)) AS BIGINT) AS w
      FROM events
    ),
    regs_h AS (
      SELECT t, b,
             MAX(CASE WHEN w = 0 THEN 29
                      ELSE 29 - length(bin(w)) END) AS m
      FROM ev GROUP BY t, b
    ),
    grid AS (
      SELECT h.t, g.b, r.m
      FROM (SELECT DISTINCT t FROM regs_h) h
      CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS b) g
      LEFT JOIN regs_h r ON r.t = h.t AND r.b = g.b
    ),
    merged AS (
      SELECT t, b,
             MAX(m) OVER (PARTITION BY b ORDER BY t
                          RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
               AS m24
      FROM grid
    ),
    folded AS (
      SELECT t, COUNT(m24) AS n_regs,
             COALESCE(SUM(CASE WHEN m24 IS NOT NULL
                          THEN CAST(1 << (29 - m24) AS BIGINT) END), 0)
               AS s_present
      FROM merged GROUP BY t
    )
    SELECT t * 3600 AS hour_ts,
           CAST(n_regs AS BIGINT) AS n_regs,
           ROUND({_hll_est_sql('n_regs', 's_present')}, 4) AS est_users_24h
    FROM folded
    """,
    doc="Sliding 24h distinct-user estimate per hour [ext/sketch/"
    "timeseries]: HLL registers merged across the window by per-bucket "
    "max - the mergeability solution to sliding DISTINCT (exact needs "
    "the id set per window). Corpus touched once; grid/window/fold all "
    "dimension-scale; fully oracle-checked.",
)(_users_sliding_hll_24h)


def _invoice_duplicate_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Entity resolution end-to-end: near-duplicate invoice PAIRS
    (customer blocking + exact tolerance predicates) collapsed to
    CLUSTERS by min-label connected components, rolled up per cluster —
    pair decisions alone over-merge/over-delete ({A,B},{B,C} is ONE
    triple-billing incident, not two). Reuses the dedup CC machinery
    (operators/dedup.py::duplicate_clusters); the roll-up joins
    cluster labels back to order amounts on the order key."""
    from .operators.dedup import duplicate_clusters

    pairs = _orders_near_duplicate_invoices(spark, sf).select(
        F.col("order_a").alias("doc_a"), F.col("order_b").alias("doc_b")
    )
    labels = duplicate_clusters(pairs)
    o = _t(spark, sf, "orders").select(
        F.col("o_orderkey").alias("doc_id"),
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    return (
        labels.join(o, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min("o_custkey").alias("custkey"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("total_cents"),
        )
        .select(
            "cluster_id",
            F.col("custkey").cast("long").alias("custkey"),
            F.col("n_orders").cast("long").alias("n_orders"),
            F.col("total_cents").cast("long").alias("total_cents"),
        )
    )


_register(
    "invoice_duplicate_clusters",
    f"""
    WITH RECURSIVE o AS (
      SELECT o_custkey, o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(datediff('day', TIMESTAMP '1970-01-01', o_orderdate)
               AS BIGINT) AS day
      FROM orders
    ),
    pairs AS (
      SELECT a.o_orderkey AS pa, b.o_orderkey AS pb
      FROM o a JOIN o b
        ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
      WHERE {_INVOICE_PAIR_WHERE}
    ),
    {_cc_ctes("pairs", "pa", "pb")}
    SELECT l.cluster_id,
           CAST(MIN(o.o_custkey) AS BIGINT) AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(o.cents) AS BIGINT) AS total_cents
    FROM labels l JOIN o ON o.o_orderkey = l.doc_id
    GROUP BY l.cluster_id
    """,
    doc="Near-duplicate invoice CLUSTERS [ext/analytics/linkage]: the "
    "entity-resolution tail on the pair screen - min-label connected "
    "components (shared dedup machinery) + per-cluster roll-up; oracle "
    "closes the pair graph with a recursive CTE. Cluster diameter is "
    "tiny (same-customer blocks), so rounds stay small.",
)(_invoice_duplicate_clusters)


def _events_window_funnel(spark: SparkSession, sf: str) -> DataFrame:
    """Sequence-match funnel (the ClickHouse ``windowFunnel`` shape):
    users reaching each level of view → click → purchase IN ORDER with
    the whole chain inside 24 hours, where the chain may anchor at ANY
    qualifying view (true windowFunnel semantics, not
    first-event-greedy).

    The existence test "∃ view v < click c < purchase p with
    t_p − t_v ≤ W" folds into two cascaded running maxima per user:
    lv(e) = latest view before e, m(e) = max lv over preceding clicks —
    a purchase completes the funnel iff t_p − m(p) ≤ W (maximizing the
    anchor view time over all valid chains is optimal). Levels are
    monotone by construction. Plan: two per-user window projections +
    one aggregate — no pair joins, no sequence materialization; event
    order is (ts, event_id), deterministic on ties."""
    from pyspark.sql import Window as _W

    window_ms = 24 * 3600 * 1000
    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms"),
        "event_id",
    )
    w = _W.partitionBy("user_id").orderBy("ts_ms", "event_id").rowsBetween(
        _W.unboundedPreceding, -1
    )
    with_lv = ev.select(
        "user_id",
        "event_type",
        "ts_ms",
        "event_id",
        F.max(
            F.when(F.col("event_type") == "view", F.col("ts_ms"))
        ).over(w).alias("lv"),
    )
    with_m = with_lv.select(
        "user_id",
        "event_type",
        "ts_ms",
        F.col("lv"),
        F.max(
            F.when(
                F.col("event_type") == "click", F.col("lv")
            )
        ).over(w).alias("m"),
    )
    per_user = with_m.groupBy("user_id").agg(
        F.max(
            (F.col("event_type") == "view").cast("long")
        ).alias("l1"),
        F.max(
            (
                (F.col("event_type") == "click")
                & F.col("lv").isNotNull()
                & (F.col("ts_ms") - F.col("lv") <= window_ms)
            ).cast("long")
        ).alias("l2"),
        F.max(
            (
                (F.col("event_type") == "purchase")
                & F.col("m").isNotNull()
                & (F.col("ts_ms") - F.col("m") <= window_ms)
            ).cast("long")
        ).alias("l3"),
    )
    counts = per_user.agg(
        F.sum("l1").alias("n1"),
        F.sum("l2").alias("n2"),
        F.sum("l3").alias("n3"),
    ).localCheckpoint(eager=False)
    levels = (
        counts.select(
            F.lit(1).cast("long").alias("step"),
            F.lit("view").alias("step_type"),
            F.col("n1").cast("long").alias("n_users"),
            F.col("n1").alias("n_base"),
        )
        .unionByName(
            counts.select(
                F.lit(2).cast("long").alias("step"),
                F.lit("click").alias("step_type"),
                F.col("n2").cast("long").alias("n_users"),
                F.col("n1").alias("n_base"),
            )
        )
        .unionByName(
            counts.select(
                F.lit(3).cast("long").alias("step"),
                F.lit("purchase").alias("step_type"),
                F.col("n3").cast("long").alias("n_users"),
                F.col("n1").alias("n_base"),
            )
        )
    )
    return levels.select(
        "step",
        "step_type",
        "n_users",
        ratio_round(F.col("n_users") * 100, F.col("n_base"), 4).alias(
            "pct_of_step1"
        ),
    )


_register(
    "events_window_funnel",
    f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms, event_id
      FROM events
    ),
    with_lv AS (
      SELECT user_id, event_type, ts_ms, event_id,
             MAX(CASE WHEN event_type = 'view' THEN ts_ms END)
               OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS lv
      FROM ev
    ),
    with_m AS (
      SELECT user_id, event_type, ts_ms, lv,
             MAX(CASE WHEN event_type = 'click' THEN lv END)
               OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS m
      FROM with_lv
    ),
    per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS l1,
             MAX(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                       AND ts_ms - lv <= 86400000 THEN 1 ELSE 0 END) AS l2,
             MAX(CASE WHEN event_type = 'purchase' AND m IS NOT NULL
                       AND ts_ms - m <= 86400000 THEN 1 ELSE 0 END) AS l3
      FROM with_m GROUP BY user_id
    ),
    counts AS (
      SELECT SUM(l1) AS n1, SUM(l2) AS n2, SUM(l3) AS n3 FROM per_user
    ),
    levels AS (
      SELECT 1 AS step, 'view' AS step_type, n1 AS n_users, n1 AS n_base
      FROM counts
      UNION ALL
      SELECT 2, 'click', n2, n1 FROM counts
      UNION ALL
      SELECT 3, 'purchase', n3, n1 FROM counts
    )
    SELECT CAST(step AS BIGINT) AS step, step_type,
           CAST(n_users AS BIGINT) AS n_users,
           {ratio_round_sql('n_users * 100', 'n_base', 4)} AS pct_of_step1
    FROM levels
    """,
    doc="Sequence-match funnel view->click->purchase within 24h "
    "[ext/analytics]: TRUE windowFunnel semantics (chain may anchor at "
    "any view; every level enforces the 24h deadline) via two cascaded "
    "per-user running maxima - no pair joins, no sequence "
    "materialization; exact-ratio conversions.",
)(_events_window_funnel)


def _purchase_linear_attribution(spark: SparkSession, sf: str) -> DataFrame:
    """Multi-touch LINEAR revenue attribution: each purchase's value
    splits equally across ALL of the user's touch events (view/click)
    in the preceding 24 hours; the report sums attributed revenue per
    touch type — the marketing-mix complement of the as-of (last-touch)
    join.

    Exactness: per-purchase touch counts are exact; each touch's credit
    is cents/n_touches rounded IN INTEGER SPACE to 1e-4 units
    (ratio_units — credit is a textbook grid quotient), and the
    attributed sums aggregate those exact units. The purchase×touch
    fan is a banded interval join (user equi-key + 24 h band), bounded
    by per-user touch density per day, never |events|²."""
    # raw scan projection: consumers re-scan parquet (cheap columnar
    # read) — the checkpoint rule covers SMALL computed results only
    ev = _t(spark, sf, "events").select(
        "user_id", "event_type", F.unix_millis("ts").alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    )
    window_ms = 24 * 3600 * 1000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts_ms").alias("p_ts"),
        F.col("cents").alias("p_cents"),
    )
    touches = ev.filter(
        F.col("event_type").isin("view", "click")
    ).select(
        "user_id",
        F.col("event_type").alias("touch_type"),
        F.col("ts_ms").alias("t_ts"),
    )
    pt = purchases.join(touches, "user_id").filter(
        (F.col("t_ts") < F.col("p_ts"))
        & (F.col("p_ts") - F.col("t_ts") <= window_ms)
    )
    counted = pt.groupBy(
        "purchase_id", "p_cents", "touch_type"
    ).agg(F.count(F.lit(1)).alias("n_type"))
    totals = counted.groupBy("purchase_id").agg(
        F.sum("n_type").alias("n_touches")
    )
    from .operators.numeric import ratio_units as _ru

    credited = counted.join(totals, "purchase_id").select(
        "touch_type",
        "n_type",
        # credit units for THIS (purchase, type): n_type·cents/n_touches
        # at 1e-4-unit resolution, rounded in exact integer space
        _ru(
            F.col("n_type") * F.col("p_cents"), F.col("n_touches"), 4
        ).alias("credit_units"),
    )
    return (
        credited.groupBy("touch_type")
        .agg(
            F.sum("n_type").alias("n_touches"),
            F.sum("credit_units").alias("credit_units_total"),
        )
        .select(
            "touch_type",
            F.col("n_touches").cast("long").alias("n_touches"),
            F.col("credit_units_total")
            .cast("long")
            .alias("attributed_units_1e4cents"),
        )
    )


_register(
    "purchase_linear_attribution",
    f"""
    WITH ev AS (
      SELECT user_id, event_type, epoch_ms(ts) AS ts_ms,
             CAST(ROUND(value * 100) AS BIGINT) AS cents, event_id
      FROM events
    ),
    purchases AS (
      SELECT user_id, event_id AS purchase_id, ts_ms AS p_ts,
             cents AS p_cents
      FROM ev WHERE event_type = 'purchase'
    ),
    touches AS (
      SELECT user_id, event_type AS touch_type, ts_ms AS t_ts
      FROM ev WHERE event_type IN ('view', 'click')
    ),
    pt AS (
      SELECT p.purchase_id, p.p_cents, t.touch_type
      FROM purchases p JOIN touches t ON p.user_id = t.user_id
      WHERE t.t_ts < p.p_ts AND p.p_ts - t.t_ts <= 86400000
    ),
    counted AS (
      SELECT purchase_id, p_cents, touch_type, COUNT(*) AS n_type
      FROM pt GROUP BY 1, 2, 3
    ),
    totals AS (
      SELECT purchase_id, SUM(n_type) AS n_touches
      FROM counted GROUP BY 1
    ),
    credited AS (
      SELECT c.touch_type, c.n_type,
             {_runits_sql('c.n_type * c.p_cents', 't.n_touches', 4)}
               AS credit_units
      FROM counted c JOIN totals t USING (purchase_id)
    )
    SELECT touch_type,
           CAST(SUM(n_type) AS BIGINT) AS n_touches,
           CAST(SUM(credit_units) AS BIGINT)
             AS attributed_units_1e4cents
    FROM credited GROUP BY touch_type
    """,
    doc="Linear multi-touch revenue attribution over a 24h lookback "
    "[ext/analytics]: purchase value splits equally across preceding "
    "view/click touches; per-touch credits round in exact integer "
    "1e-4-unit space (ratio_units - the credit IS a grid quotient) and "
    "sum exactly. Banded user-keyed interval join; the as-of entry is "
    "the last-touch counterpart.",
)(_purchase_linear_attribution)


def _orders_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    """Table-diff / reconciliation report between two snapshots of the
    orders table (the datafold/data-diff shape): keyed FULL OUTER join,
    rows classified added / removed / changed / unchanged, with
    per-column change counts on the changed set. Snapshots are
    deterministic transforms of the fixture (v1 drops key%7=0, v2
    drops key%5=0, bumps price 1% on key%3=0 and flips status on
    key%11=0) — the stand-in for two table versions. One key-join
    (co-partitioned at scale), one aggregate; all comparisons on the
    exact cents grid."""
    # raw scan projection: both version branches re-scan parquet (the
    # SMALL-results-only checkpoint rule)
    o = _t(spark, sf, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    v1 = o.filter(F.col("o_orderkey") % 7 != 0).select(
        F.col("o_orderkey").alias("k1"),
        F.col("o_orderstatus").alias("st1"),
        F.col("cents").alias("c1"),
    )
    v2 = o.filter(F.col("o_orderkey") % 5 != 0).select(
        F.col("o_orderkey").alias("k2"),
        F.when(
            F.col("o_orderkey") % 11 == 0, F.lit("X")
        ).otherwise(F.col("o_orderstatus")).alias("st2"),
        F.when(
            F.col("o_orderkey") % 3 == 0,
            F.col("cents") + F.expr("cents div 100"),
        ).otherwise(F.col("cents")).alias("c2"),
    )
    j = v1.join(v2, F.col("k1") == F.col("k2"), "full_outer")
    action = (
        F.when(F.col("k1").isNull(), F.lit("added"))
        .when(F.col("k2").isNull(), F.lit("removed"))
        .when(
            (F.col("c1") != F.col("c2")) | (F.col("st1") != F.col("st2")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        j.withColumn("action", action)
        .groupBy("action")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                (
                    F.col("k1").isNotNull()
                    & F.col("k2").isNotNull()
                    & (F.col("c1") != F.col("c2"))
                ).cast("long")
            ).alias("n_price_changed"),
            F.sum(
                (
                    F.col("k1").isNotNull()
                    & F.col("k2").isNotNull()
                    & (F.col("st1") != F.col("st2"))
                ).cast("long")
            ).alias("n_status_changed"),
        )
        .select(
            "action",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("n_price_changed").cast("long").alias("n_price_changed"),
            F.col("n_status_changed").cast("long").alias("n_status_changed"),
        )
    )


_register(
    "orders_snapshot_diff",
    """
    WITH o AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    v1 AS (
      SELECT o_orderkey AS k1, o_orderstatus AS st1, cents AS c1
      FROM o WHERE o_orderkey % 7 <> 0
    ),
    v2 AS (
      SELECT o_orderkey AS k2,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X'
                  ELSE o_orderstatus END AS st2,
             CASE WHEN o_orderkey % 3 = 0 THEN cents + cents // 100
                  ELSE cents END AS c2
      FROM o WHERE o_orderkey % 5 <> 0
    ),
    j AS (
      SELECT *,
             CASE WHEN k1 IS NULL THEN 'added'
                  WHEN k2 IS NULL THEN 'removed'
                  WHEN c1 <> c2 OR st1 <> st2 THEN 'changed'
                  ELSE 'unchanged' END AS action
      FROM v1 FULL OUTER JOIN v2 ON k1 = k2
    )
    SELECT action,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
                          AND c1 <> c2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_price_changed,
           CAST(SUM(CASE WHEN k1 IS NOT NULL AND k2 IS NOT NULL
                          AND st1 <> st2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_status_changed
    FROM j GROUP BY action
    """,
    doc="Snapshot diff / reconciliation report [ext/analytics/"
    "warehouse]: keyed FULL OUTER join classifying added / removed / "
    "changed / unchanged + per-column change counts - the data-diff "
    "tool shape. Exact cents comparisons; key join co-partitions at "
    "scale.",
)(_orders_snapshot_diff)


def _docs_keyphrases(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document keyphrase extraction: each document's top-2 adjacent
    bigrams ranked by CORPUS PMI (collocation strength) — the
    phrase-level document tag used for indexing/faceting. Composition:
    the corpus PMI table (min_count 5, the text_word_pmi machinery)
    joins to each doc's distinct bigrams on the (x, y) phrase key —
    vocab-scale join, AQE-broadcast — and a per-doc rank window runs
    over ≤ |doc bigrams ∩ collocations| rows. PMI values are 1e-6-grid
    doubles (transcendental rule) with (pmi desc, phrase asc)
    determinism."""
    from pyspark.sql import Window as _W

    docs = _t(spark, sf, "documents")
    pmi = _text.word_pmi_pairs(docs, top_k=None).select(
        "x", "y", "pmi_e6"
    )
    bi = _text.doc_bigrams(docs).distinct()
    scored = bi.join(pmi, ["x", "y"])
    wr = _W.partitionBy("doc_id").orderBy(
        F.desc("pmi_e6"), F.asc("x"), F.asc("y")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 2)
        .select(
            "doc_id",
            F.concat_ws(" ", F.col("x"), F.col("y")).alias("phrase"),
            "pmi_e6",
            "rnk",
        )
    )


_register(
    "docs_keyphrases",
    f"""
    WITH norm AS (SELECT doc_id, {_NORM_SQL} AS t FROM documents),
    arr AS (SELECT doc_id, string_split(t, ' ') AS ws FROM norm),
    -- slot-adjacent list_zip mirrors Spark's arrays_zip(slice, slice)
    -- exactly AND is ~100x faster than the token position self-join
    bi AS (
      SELECT doc_id, u.p[1] AS x, u.p[2] AS y
      FROM (SELECT doc_id,
                   list_zip(ws[1:len(ws) - 1], ws[2:len(ws)]) AS zs
            FROM arr WHERE len(ws) >= 2),
           LATERAL (SELECT unnest(zs) AS p) u
    ),
    toks AS (
      SELECT doc_id, unnest(ws) AS w FROM arr
    ),
    cxy AS (SELECT x, y, COUNT(*) AS c_xy FROM bi GROUP BY 1, 2),
    uni AS (SELECT w AS t, COUNT(*) AS c FROM toks
            WHERE length(w) > 0 GROUP BY 1),
    nb AS (SELECT SUM(c_xy) AS n_bi FROM cxy),
    nu AS (SELECT SUM(c) AS n_uni FROM uni),
    pmi AS (
      SELECT cxy.x, cxy.y,
             CAST(ROUND(LN(((CAST(c_xy AS DOUBLE) * n_uni) * n_uni)
                      / ((CAST(n_bi AS DOUBLE) * c_x) * c_y)) * 1e6, 0)
                  AS BIGINT) AS pmi_e6
      FROM (SELECT cxy.x, cxy.y, cxy.c_xy, ux.c AS c_x, uy.c AS c_y
            FROM cxy
            JOIN uni ux ON ux.t = cxy.x
            JOIN uni uy ON uy.t = cxy.y
            WHERE cxy.c_xy >= 5) cxy, nb, nu
    ),
    doc_bi AS (SELECT DISTINCT doc_id, x, y FROM bi),
    scored AS (
      SELECT d.doc_id, d.x, d.y, p.pmi_e6,
             ROW_NUMBER() OVER (PARTITION BY d.doc_id
                                ORDER BY p.pmi_e6 DESC, d.x, d.y) AS rnk
      FROM doc_bi d JOIN pmi p ON p.x = d.x AND p.y = d.y
    )
    SELECT doc_id, x || ' ' || y AS phrase, pmi_e6, rnk
    FROM scored WHERE rnk <= 2
    """,
    doc="Per-document keyphrases [ext/text]: top-2 doc bigrams by "
    "CORPUS PMI collocation strength (min_count 5) - phrase-level doc "
    "tags. Vocab-scale PMI join (AQE broadcast), per-doc rank over the "
    "collocation intersection only; integer micro-nat PMI (pmi_e6 "
    "BIGINT, r8 libm audit) with (pmi_e6, phrase) determinism. Composition over text.word_pmi_pairs(top_k=None).",
)(_docs_keyphrases)


def _hourly_error_streaks(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands incident detection: maximal runs of consecutive
    hours whose error rate exceeds 25%, with per-streak length and
    error mass — the uptime/incident-report shape (the islands trick:
    hour − ROW_NUMBER over qualifying hours is constant within a
    consecutive run; ROW_NUMBER is correct here because t is unique
    after the hourly groupBy — on a non-distinct dimension the
    DENSE_RANK variant would be needed to avoid merging islands).

    The corpus collapses to the |hours| dimension table first (error
    rate as an exact cross-multiplied integer compare — no float rate);
    the rank window and island aggregation run over qualifying hours
    only. Top-10 longest streaks, (length, start) tie-break."""
    from pyspark.sql import Window as _W

    hourly = (
        _t(spark, sf, "events")
        .groupBy(
            (F.unix_millis(F.date_trunc("hour", F.col("ts"))) / 3600000)
            .cast("long")
            .alias("t")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("event_type") == "error").cast("long")
            ).alias("n_err"),
        )
    )
    bad = hourly.filter(F.col("n_err") * 4 > F.col("n"))
    w = _W.orderBy("t")
    islands = bad.withColumn(
        "grp", F.col("t") - F.row_number().over(w)
    )
    return (
        islands.groupBy("grp")
        .agg(
            F.min("t").alias("start_t"),
            F.count(F.lit(1)).alias("len_hours"),
            F.sum("n_err").alias("total_errors"),
            F.sum("n").alias("total_events"),
        )
        .orderBy(F.desc("len_hours"), F.asc("start_t"))
        .limit(10)
        .select(
            (F.col("start_t") * 3600).alias("start_ts"),
            F.col("len_hours").cast("long").alias("len_hours"),
            F.col("total_errors").cast("long").alias("total_errors"),
            F.col("total_events").cast("long").alias("total_events"),
        )
    )


_register(
    "hourly_error_streaks",
    """
    WITH hourly AS (
      SELECT CAST(epoch(date_trunc('hour', ts)) // 3600 AS BIGINT) AS t,
             COUNT(*) AS n,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
      FROM events GROUP BY 1
    ),
    bad AS (SELECT * FROM hourly WHERE n_err * 4 > n),
    islands AS (
      SELECT *, t - ROW_NUMBER() OVER (ORDER BY t) AS grp FROM bad
    )
    SELECT CAST(MIN(t) * 3600 AS BIGINT) AS start_ts,
           CAST(COUNT(*) AS BIGINT) AS len_hours,
           CAST(SUM(n_err) AS BIGINT) AS total_errors,
           CAST(SUM(n) AS BIGINT) AS total_events
    FROM islands GROUP BY grp
    ORDER BY len_hours DESC, start_ts
    LIMIT 10
    """,
    doc="Gaps-and-islands error streaks [ext/analytics/timeseries]: "
    "maximal consecutive-hour runs with error rate > 25% (exact "
    "cross-multiplied compare), islands via t - ROW_NUMBER; windows "
    "run over the qualifying-hours dimension only. Top-10 by length.",
)(_hourly_error_streaks)


def _orders_trimmed_mean_scalable(spark: SparkSession, sf: str) -> DataFrame:
    """EXACT 10%-two-sided trimmed mean of order totals without a
    global sort — the robust-statistics companion of
    orders_exact_median_scalable, same two-pass bucket algorithm
    applied to BOTH tails:

    pass 1: cents histogram with per-bucket count AND sum (map-side
    combined) → cumulative windows over the tiny bucket table locate
    the bucket holding rank k = (n div 10) from each end, plus the
    exact sums of all full buckets beyond each boundary; pass 2: scan
    ONLY the two boundary buckets, value-level cumulative counts give
    the partial tail sums (Σ v·min(cnt, remaining)) exactly. The
    trimmed mean is then one exact integer ratio. No sort ever touches
    more than one bucket's rows."""
    from pyspark.sql import Window as _W

    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    # NULL totals (incl. boundary-nulled NaN) are excluded from the
    # order-statistic distribution: a priceless order has no rank, and
    # a NULL bucket sorts NULLS-FIRST on Spark vs NULLS-LAST in the
    # oracle's ORDER BY (r8 TPC-H degenerate probe).
    orders = (
        _t(spark, sf, "orders")
        .select(cents.alias("cents"))
        .filter(F.col("cents").isNotNull())
    )
    hist = (
        orders.groupBy(_os_bucket_col().alias("b"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"),
        )
        .localCheckpoint(eager=False)
    )
    stats = hist.agg(
        F.sum("cnt").alias("n"), F.sum("s").alias("total_s")
    ).localCheckpoint(eager=False)
    wa = _W.orderBy("b").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    wd = _W.orderBy(F.desc("b")).rowsBetween(
        _W.unboundedPreceding, _W.currentRow
    )
    cum = (
        hist.crossJoin(F.broadcast(stats))
        .withColumn("k", F.expr("n div 10"))
        .withColumn("cum_a", F.sum("cnt").over(wa))
        .withColumn("cums_a", F.sum("s").over(wa))
        .withColumn("cum_d", F.sum("cnt").over(wd))
        .withColumn("cums_d", F.sum("s").over(wd))
        .localCheckpoint(eager=False)
    )
    lo = (
        cum.filter(F.col("cum_a") >= F.col("k"))
        .orderBy("b")
        .limit(1)
        .select(
            F.col("b").alias("b_lo"),
            (F.col("k") - (F.col("cum_a") - F.col("cnt"))).alias("m_lo"),
            (F.col("cums_a") - F.col("s")).alias("below_s"),
        )
    )
    hi = (
        cum.filter(F.col("cum_d") >= F.col("k"))
        .orderBy(F.desc("b"))
        .limit(1)
        .select(
            F.col("b").alias("b_hi"),
            (F.col("k") - (F.col("cum_d") - F.col("cnt"))).alias("m_hi"),
            (F.col("cums_d") - F.col("s")).alias("above_s"),
        )
    )
    # pass 2: value-level partial sums inside each boundary bucket
    wv_a = _W.orderBy("cents").rowsBetween(_W.unboundedPreceding, -1)
    in_lo = (
        orders.join(
            F.broadcast(lo),
            _os_bucket_col() == F.col("b_lo"),
        )
        .groupBy("cents", "m_lo")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("prev", F.coalesce(F.sum("c").over(wv_a), F.lit(0)))
        .select(
            (
                F.col("cents").cast("decimal(38,0)")
                * F.greatest(
                    F.lit(0),
                    F.least(F.col("c"), F.col("m_lo") - F.col("prev")),
                )
            ).alias("part")
        )
        .agg(F.coalesce(F.sum("part"), F.lit(0)).alias("lo_in"))
    )
    wv_d = _W.orderBy(F.desc("cents")).rowsBetween(
        _W.unboundedPreceding, -1
    )
    in_hi = (
        orders.join(
            F.broadcast(hi),
            _os_bucket_col() == F.col("b_hi"),
        )
        .groupBy("cents", "m_hi")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("prev", F.coalesce(F.sum("c").over(wv_d), F.lit(0)))
        .select(
            (
                F.col("cents").cast("decimal(38,0)")
                * F.greatest(
                    F.lit(0),
                    F.least(F.col("c"), F.col("m_hi") - F.col("prev")),
                )
            ).alias("part")
        )
        .agg(F.coalesce(F.sum("part"), F.lit(0)).alias("hi_in"))
    )
    row = (
        stats.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(in_lo))
        .crossJoin(F.broadcast(in_hi))
    )
    kept = (
        F.col("total_s")
        - F.col("below_s")
        - F.col("lo_in")
        - F.col("above_s")
        - F.col("hi_in")
    )
    kept_n = F.col("n") - 2 * F.expr("n div 10")
    return row.select(
        F.col("n").cast("long").alias("n_orders"),
        F.expr("n div 10").cast("long").alias("k_trimmed_each_side"),
        kept_n.cast("long").alias("n_kept"),
        ratio_round(
            kept, kept_n.cast("decimal(38,0)") * 100, 4
        ).alias("trimmed_mean_price"),
    )


_register(
    "orders_trimmed_mean_scalable",
    f"""
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
               FROM orders WHERE o_totalprice IS NOT NULL),
    nn AS (SELECT COUNT(*) AS n, COUNT(*) // 10 AS k FROM c),
    kept AS (
      SELECT SUM(CAST(cents AS HUGEINT)) AS kept_s, COUNT(*) AS kept_n
      FROM (SELECT cents FROM c ORDER BY cents
            LIMIT (SELECT n - 2 * k FROM nn)
            OFFSET (SELECT k FROM nn))
    )
    SELECT CAST(nn.n AS BIGINT) AS n_orders,
           CAST(nn.k AS BIGINT) AS k_trimmed_each_side,
           CAST(kept.kept_n AS BIGINT) AS n_kept,
           {ratio_round_sql(
               'kept_s', 'CAST(kept_n AS HUGEINT) * 100', 4)}
             AS trimmed_mean_price
    FROM nn CROSS JOIN kept
    """,
    doc="Exact 10% two-sided trimmed mean [ext/analytics/percentile]: "
    "two-pass bucket algorithm on BOTH tails (histogram with counts + "
    "sums, boundary-bucket partial sums at value level) - robust mean "
    "with no global sort; one exact integer ratio at the end. Oracle "
    "replays via ORDER BY LIMIT/OFFSET.",
)(_orders_trimmed_mean_scalable)


def _dataset_grouped_kfold(spark: SparkSession, sf: str) -> DataFrame:
    """Leakage-safe grouped k-fold assignment: every document inherits
    its EXACT-DUP CLUSTER's fold (md5 of the cluster's keeper id), so
    near-identical texts can never straddle a train/test boundary — the
    split hygiene step that naive per-doc hashing gets wrong (duplicate
    leakage inflates eval scores).

    Shape: fingerprint → min-doc_id keeper per cluster (map-side
    combine), fold = hash_bucket(keeper) % 5 projected back through a
    fp-keyed join; ONE doc-level aggregation to the (fp, fold) grain —
    a cluster-sized table (lazily checkpointed: two consumers) that
    feeds both the per-fold report and the cross-fold leakage PROOF
    column (rows per cluster = distinct folds per cluster since fold is
    in the grain; max over report = 1 by construction — emitted so the
    invariant is hash-checked, not just claimed; computed from the
    doc-level fold attachments, so a regression that folds by doc_id
    instead of keeper WOULD surface here)."""
    d = _t(spark, sf, "documents").select(
        "doc_id",
        F.md5(_text._norm(F.col("text"))).alias("fp"),
        F.size(F.split(_text._norm(F.col("text")), " ")).cast("long").alias(
            "tok"
        ),
    )
    keep = d.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    folded = d.join(keep, "fp").withColumn(
        "fold", _sampling.hash_bucket(F.col("keeper"), "fold", 5)
    )
    cluster_fold = (
        folded.groupBy("fp", "fold")
        .agg(F.count(F.lit(1)).alias("nd"), F.sum("tok").alias("nt"))
        .localCheckpoint(eager=False)
    )
    leak = (
        cluster_fold.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("nf"))
        .agg(F.max("nf").alias("max_folds_per_cluster"))
    )
    return (
        cluster_fold.groupBy("fold")
        .agg(
            F.sum("nd").alias("n_docs"),
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("nt").alias("n_tokens"),
        )
        .crossJoin(F.broadcast(leak))
        .select(
            F.col("fold").cast("long").alias("fold"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("max_folds_per_cluster").cast("long").alias(
                "max_folds_per_cluster"
            ),
        )
    )


_register(
    "dataset_grouped_kfold",
    f"""
    WITH d AS (
      SELECT doc_id, md5(t) AS fp,
             CAST(len(string_split(t, ' ')) AS BIGINT) AS tok
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    ),
    keep AS (SELECT fp, MIN(doc_id) AS keeper FROM d GROUP BY fp),
    folded AS (
      SELECT d.doc_id, d.fp, d.tok,
             CAST(('0x' || substr(md5('fold:' || CAST(keeper AS VARCHAR)),
                                  1, 7)) AS BIGINT) % 5 AS fold
      FROM d JOIN keep USING (fp)
    ),
    leak AS (
      SELECT MAX(nf) AS max_folds_per_cluster
      FROM (SELECT fp, COUNT(DISTINCT fold) AS nf
            FROM folded GROUP BY fp)
    )
    SELECT CAST(fold AS BIGINT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_clusters,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           CAST(MAX(max_folds_per_cluster) AS BIGINT)
             AS max_folds_per_cluster
    FROM folded CROSS JOIN leak
    GROUP BY fold
    """,
    doc="Leakage-safe grouped 5-fold split [ext/sampling/pipeline]: "
    "folds assigned per exact-dup CLUSTER (md5 of the keeper id via "
    "the shared hash_bucket construction), so duplicates never "
    "straddle train/test; per-fold stats + an emitted cross-fold "
    "leakage proof (max distinct folds per cluster = 1, hash-checked).",
)(_dataset_grouped_kfold)


def _events_top_paths(spark: SparkSession, sf: str) -> DataFrame:
    """Path mining: the 10 most frequent 3-event behavioral paths
    (consecutive event-type triples per user) — the "what do users do
    next" product-analytics staple. One per-user lead window (two
    offsets in one pass) + a map-side-combined path count +
    TakeOrdered; (count desc, path asc) determinism.

    Twin alignment: the window orders by unix_micros — FULL timestamp
    precision, matching DuckDB's epoch_us — so same-millisecond events
    cannot order differently across engines; NULL event types are
    filtered before the window on both sides (concat_ws skips NULLs,
    `||` propagates them — the two would disagree on a NULL leg)."""
    from pyspark.sql import Window as _W

    ev = (
        _t(spark, sf, "events")
        .filter(F.col("event_type").isNotNull())
        .select(
            "user_id", "event_type",
            F.unix_micros("ts").alias("ts_us"), "event_id",
        )
    )
    w = _W.partitionBy("user_id").orderBy("ts_us", "event_id")
    triples = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    return (
        triples.groupBy(
            F.concat_ws(
                ">", F.col("event_type"), F.col("t2"), F.col("t3")
            ).alias("path")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(10)
        .select("path", F.col("n").cast("long").alias("n"))
    )


_register(
    "events_top_paths",
    """
    WITH seq AS (
      SELECT event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WHERE event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS path,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, path LIMIT 10
    """,
    doc="Top-10 3-event behavioral paths [ext/analytics]: per-user lead "
    "window (both offsets in one pass; unix_micros/epoch_us ordering so "
    "sub-ms ties cannot diverge; NULL types filtered on both sides), "
    "map-side-combined path counts, TakeOrdered with (count, path) "
    "determinism.",
)(_events_top_paths)


def _part_croston_forecast(spark: SparkSession, sf: str) -> DataFrame:
    """Croston's method for INTERMITTENT demand (sparse series where
    plain EWMA under-forecasts between zero months): per part, separate
    exponential smoothing of (a) nonzero-month demand sizes and (b)
    inter-demand intervals, forecast rate = ẑ/p̂. Top-50 parts by
    demand-month count (key tie-break).

    Exactness: both smoothers are the binary-weight trailing-6 EWMA
    (explicit lags × CONSTANT weights 2^(5-k) — the events_ewma_hourly
    idiom) kept as exact integer FRACTIONS (num, den); the forecast
    ẑ/p̂ = z_num·p_den/(z_den·p_num) rounds ONCE via ratio_round — no
    intermediate float ever exists. Constant weights matter at scale: a
    position-anchored 2^i weighting overflows DECIMAL(38) once a part
    accumulates ~55 demand months (any multi-year corpus at sf≥1);
    bounded lag weights keep every product ≤ 63·qty regardless of
    history length. Plan: the fact collapses to (part, month) demand;
    the lag window runs over the part-month dimension (|parts×months|
    rows at any scale); one final row per part (its latest state)."""
    from pyspark.sql import Window as _W

    monthly = (
        _t(spark, sf, "lineitem")
        .groupBy(
            "l_partkey",
            (F.year("l_shipdate") * 12 + F.month("l_shipdate")).alias("ym"),
        )
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 0)
    )
    w = _W.partitionBy("l_partkey").orderBy("ym")
    seq = monthly.select(
        "l_partkey",
        "ym",
        "qty",
        F.row_number().over(w).alias("i"),
        (F.col("ym") - F.lag("ym").over(w)).alias("gap"),
    )
    zn = F.lit(0).cast("long")
    zd = F.lit(0).cast("long")
    pn = F.lit(0).cast("long")
    pd_ = F.lit(0).cast("long")
    for k in range(6):
        wt = 2 ** (5 - k)
        q_k = F.col("qty") if k == 0 else F.lag("qty", k).over(w)
        g_k = F.col("gap") if k == 0 else F.lag("gap", k).over(w)
        zn = zn + F.when(q_k.isNotNull(), q_k * wt).otherwise(0)
        zd = zd + F.when(q_k.isNotNull(), F.lit(wt)).otherwise(0)
        pn = pn + F.when(g_k.isNotNull(), g_k * wt).otherwise(0)
        pd_ = pd_ + F.when(g_k.isNotNull(), F.lit(wt)).otherwise(0)
    st = seq.select("l_partkey", "i", zn.alias("zn"), zd.alias("zd"),
                    pn.alias("pn"), pd_.alias("pd"))
    last = _W.partitionBy("l_partkey").orderBy(F.desc("i"))
    latest = (
        st.withColumn("rn", F.row_number().over(last))
        .filter(F.col("rn") == 1)
        .filter(F.col("pd") > 0)
    )
    return (
        latest.select(
            "l_partkey",
            F.col("i").cast("long").alias("n_demand_months"),
            ratio_round(F.col("zn"), F.col("zd"), 4).alias("z_hat"),
            ratio_round(F.col("pn"), F.col("pd"), 4).alias("p_hat"),
            ratio_round(
                F.col("zn") * F.col("pd"), F.col("zd") * F.col("pn"), 4
            ).alias("demand_per_month"),
        )
        .orderBy(F.desc("n_demand_months"), F.asc("l_partkey"))
        .limit(50)
    )


_CROSTON_LAGS = ", ".join(
    (
        "qty AS q_0, gap AS g_0"
        if k == 0
        else f"LAG(qty, {k}) OVER w AS q_{k}, LAG(gap, {k}) OVER w AS g_{k}"
    )
    for k in range(6)
)
_CROSTON_ZN = " + ".join(
    f"(CASE WHEN q_{k} IS NOT NULL THEN q_{k} * {2 ** (5 - k)} ELSE 0 END)"
    for k in range(6)
)
_CROSTON_ZD = " + ".join(
    f"(CASE WHEN q_{k} IS NOT NULL THEN {2 ** (5 - k)} ELSE 0 END)"
    for k in range(6)
)
_CROSTON_PN = " + ".join(
    f"(CASE WHEN g_{k} IS NOT NULL THEN g_{k} * {2 ** (5 - k)} ELSE 0 END)"
    for k in range(6)
)
_CROSTON_PD = " + ".join(
    f"(CASE WHEN g_{k} IS NOT NULL THEN {2 ** (5 - k)} ELSE 0 END)"
    for k in range(6)
)

_register(
    "part_croston_forecast",
    f"""
    WITH monthly AS (
      SELECT l_partkey,
             year(l_shipdate) * 12 + month(l_shipdate) AS ym,
             SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS qty
      FROM lineitem GROUP BY 1, 2
      HAVING SUM(CAST(ROUND(l_quantity) AS BIGINT)) > 0
    ),
    seq AS (
      SELECT l_partkey, ym, qty,
             ROW_NUMBER() OVER w AS i,
             ym - LAG(ym) OVER w AS gap
      FROM monthly
      WINDOW w AS (PARTITION BY l_partkey ORDER BY ym)
    ),
    lagged AS (
      SELECT l_partkey, i, {_CROSTON_LAGS}
      FROM seq
      WINDOW w AS (PARTITION BY l_partkey ORDER BY i)
    ),
    st AS (
      SELECT l_partkey, i,
             {_CROSTON_ZN} AS zn, {_CROSTON_ZD} AS zd,
             {_CROSTON_PN} AS pn, {_CROSTON_PD} AS pd
      FROM lagged
    ),
    latest AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY l_partkey ORDER BY i DESC) AS rn
        FROM st) WHERE rn = 1 AND pd > 0
    )
    SELECT l_partkey,
           CAST(i AS BIGINT) AS n_demand_months,
           {ratio_round_sql('zn', 'zd', 4)} AS z_hat,
           {ratio_round_sql('pn', 'pd', 4)} AS p_hat,
           {ratio_round_sql('zn * pd', 'zd * pn', 4)} AS demand_per_month
    FROM latest
    ORDER BY n_demand_months DESC, l_partkey
    LIMIT 50
    """,
    doc="Croston intermittent-demand forecast [ext/timeseries]: "
    "separate binary-weight EWMAs (explicit lags x constant 2^(5-k) "
    "weights — bounded at any history length, unlike 2^i position "
    "weights which overflow DECIMAL(38) past ~55 demand months) of "
    "nonzero demand sizes and inter-demand intervals kept as exact "
    "integer FRACTIONS; the forecast rate z/p rounds once via "
    "cross-multiplied ratio_round. Part-month dimension windows only; "
    "top-50 by demand history.",
)(_part_croston_forecast)


# --- Fifth continuation batch: eval / layout / calibration / split ------
import math  # noqa: E402

# nDCG discount constants as exact 1e-6 integer units, computed ONCE in
# Python and injected as literals into BOTH engines — no in-engine
# transcendental ever evaluates, so DCG/IDCG are exact integer sums and
# nDCG is one grid quotient (ratio_round). d_r = round(1e6 / log2(r+1)).
_NDCG_D = [round(1_000_000 / math.log2(r + 1)) for r in range(1, 11)]
_NDCG_CUM = [sum(_NDCG_D[:i]) for i in range(11)]  # CUM[j] = Σ d_1..d_j


def _retrieval_ndcg(spark: SparkSession, sf: str) -> DataFrame:
    """nDCG@10 of the binary-Hamming retriever with LABEL-match relevance
    — the graded companion of recall@5 (``retrieval_recall_hamming``):
    rank position matters, so a retriever that buries its hits at rank
    9-10 scores lower than one that fronts them.

    rel(q, n) = [label(n) = label(q)]; DCG = Σ rel_r·d_r over the top-10,
    IDCG = Σ d_1..d_min(R,10) where R = |same-label candidates| (the best
    achievable placement), nDCG = DCG/IDCG. The d_r live on a shared
    Python-literal 1e-6 integer grid (module constants above), so both
    sums are exact integers and the quotient rounds via ratio_round;
    R = 0 queries emit NULL (undefined metric, never a 0-division).

    Plan: the retriever is the oracle-checked ``hamming_topk`` (one
    broadcast of 20 query codes over the code table); the 200-row top-k
    result broadcasts against the label projection; R comes from a
    |labels|-row aggregate. Corpus is scanned twice (codes + labels) —
    both scans prune to 2-3 columns."""
    from .operators.quantize import hamming_topk

    emb = _t(spark, sf, "embeddings")
    pred = F.col("vec_id") < 20
    labels = emb.select("vec_id", "label")
    top = hamming_topk(emb, pred, k=10)
    q_lab = labels.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    n_lab = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_lab"))

    dexp = F.when(F.col("rnk") == 1, F.lit(_NDCG_D[0]))
    for r in range(2, 11):
        dexp = dexp.when(F.col("rnk") == r, F.lit(_NDCG_D[r - 1]))
    rel = F.col("n_label") == F.col("q_label")
    scored = labels.select(
        F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")
    ).join(F.broadcast(top.join(F.broadcast(q_lab), "query_id")), "neighbor_id")
    per_q = scored.groupBy("query_id", "q_label").agg(
        F.sum(F.when(rel, dexp).otherwise(0)).alias("dcg_u"),
        F.sum(rel.cast("long")).alias("n_rel_ret"),
    )

    icase = F.when(F.least(F.col("r_cnt"), F.lit(10)) == 1, F.lit(_NDCG_CUM[1]))
    for j in range(2, 11):
        icase = icase.when(
            F.least(F.col("r_cnt"), F.lit(10)) == j, F.lit(_NDCG_CUM[j])
        )
    withr = per_q.join(
        F.broadcast(n_lab), per_q["q_label"] == n_lab["label"]
    ).withColumn("r_cnt", (F.col("n_lab") - 1).cast("long"))
    return (
        withr.select(
            "query_id",
            F.col("q_label").cast("long").alias("label"),
            F.col("r_cnt"),
            F.col("n_rel_ret").cast("long").alias("n_rel_ret"),
            F.when(
                F.col("r_cnt") > 0,
                ratio_round(F.col("dcg_u"), icase, 4),
            ).alias("ndcg_at_10"),
        )
        .orderBy("query_id")
    )


_NDCG_D_CASE = (
    "CASE rnk "
    + " ".join(f"WHEN {r} THEN {_NDCG_D[r - 1]}" for r in range(1, 11))
    + " END"
)
_NDCG_I_CASE = (
    "CASE LEAST(r_cnt, 10) "
    + " ".join(f"WHEN {j} THEN {_NDCG_CUM[j]}" for j in range(1, 11))
    + " END"
)

_register(
    "retrieval_ndcg",
    f"""
    WITH {_BINPACK_SQL.strip()},
    {_hamming_topk_sql(20, 10, "top")},
    ql AS (SELECT vec_id AS query_id, label AS q_label FROM embeddings
           WHERE vec_id < 20),
    nl AS (SELECT label, COUNT(*) AS n_lab FROM embeddings GROUP BY 1),
    per_q AS (
      SELECT t.query_id, ql.q_label,
             SUM(CASE WHEN e.label = ql.q_label
                 THEN {_NDCG_D_CASE} ELSE 0 END) AS dcg_u,
             SUM(CASE WHEN e.label = ql.q_label THEN 1 ELSE 0 END)
               AS n_rel_ret
      FROM top t
      JOIN ql ON ql.query_id = t.query_id
      JOIN embeddings e ON e.vec_id = t.neighbor_id
      GROUP BY 1, 2
    ),
    withr AS (
      SELECT per_q.*, CAST(nl.n_lab - 1 AS BIGINT) AS r_cnt
      FROM per_q JOIN nl ON nl.label = per_q.q_label
    )
    SELECT query_id,
           CAST(q_label AS BIGINT) AS label,
           r_cnt,
           CAST(n_rel_ret AS BIGINT) AS n_rel_ret,
           CASE WHEN r_cnt > 0
                THEN {ratio_round_sql('dcg_u', _NDCG_I_CASE, 4)}
           END AS ndcg_at_10
    FROM withr
    ORDER BY query_id
    """,
    doc="nDCG@10 of binary-Hamming retrieval with label relevance "
    "[ext/similarity/eval]: discount constants injected as shared "
    "Python literals on a 1e-6 integer grid (no in-engine logs), DCG/"
    "IDCG exact integer sums, nDCG one ratio_round quotient; R=0 -> "
    "NULL.",
)(_retrieval_ndcg)


def _events_zorder_layout(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton-curve) data-layout planner: interleave the bits
    of two predicate dimensions — user bucket (user_id mod 256) and
    hour bucket (corpus hour mod 256) — and group rows into files by
    the code's top 8 bits. The per-file min/max extents this emits are
    exactly the zone-map statistics a lakehouse writer records: because
    the Morton curve is locality-preserving in BOTH dimensions, every
    file covers a ~16×16 cell of (user, hour) space, so a filter on
    EITHER column prunes ~15/16 of files — a time-sorted layout prunes
    only on time, a user-sorted one only on user.

    Exactness: bit interleave is Σ_k ((u>>k)&1)<<(2k+1) +
    ((h>>k)&1)<<(2k) — pure integer bit ops, identical on both engines;
    the hour bucket divides date_trunc'd millis (an exact multiple of
    3600000, so the quotient is integral and truncate ≡ floor on both
    engines — raw epoch division would diverge pre-1970).
    Scale shape: one projection + one 256-group
    aggregate (map-side combined). At write time the same code feeds
    ``repartitionByRange(morton)`` — range boundaries from the sampled
    sort-key distribution, no global sort materializes."""
    ev = _t(spark, sf, "events").select(
        (F.col("user_id") % 256).alias("u"),
        (
            (F.unix_millis(F.date_trunc("hour", F.col("ts"))) / 3600000)
            .cast("long")
            % 256
        ).alias("h"),
    )
    morton = F.lit(0).cast("long")
    for k in range(8):
        morton = morton + F.shiftleft(
            F.shiftright(F.col("u"), k).bitwiseAND(F.lit(1)), 2 * k + 1
        ) + F.shiftleft(
            F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)), 2 * k
        )
    coded = ev.select("u", "h", morton.alias("z"))
    return (
        coded.groupBy(F.shiftright(F.col("z"), 8).alias("file_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("u").alias("u_lo"),
            F.max("u").alias("u_hi"),
            F.min("h").alias("h_lo"),
            F.max("h").alias("h_hi"),
        )
        .select(
            F.col("file_id").cast("long").alias("file_id"),
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("u_lo").cast("long").alias("u_lo"),
            F.col("u_hi").cast("long").alias("u_hi"),
            F.col("h_lo").cast("long").alias("h_lo"),
            F.col("h_hi").cast("long").alias("h_hi"),
            (
                (F.col("u_hi") - F.col("u_lo") + 1)
                * (F.col("h_hi") - F.col("h_lo") + 1)
            ).cast("long").alias("extent_cells"),
        )
        .orderBy("file_id")
    )


_ZORD_MORTON = " + ".join(
    f"((((u >> {k}) & 1) << {2 * k + 1}) + (((h >> {k}) & 1) << {2 * k}))"
    for k in range(8)
)

_register(
    "events_zorder_layout",
    f"""
    WITH ev AS (
      SELECT user_id % 256 AS u,
             (epoch_ms(date_trunc('hour', ts)) // 3600000) % 256 AS h
      FROM events
    ),
    coded AS (SELECT u, h, {_ZORD_MORTON} AS z FROM ev)
    SELECT CAST(z >> 8 AS BIGINT) AS file_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(u) AS BIGINT) AS u_lo,
           CAST(MAX(u) AS BIGINT) AS u_hi,
           CAST(MIN(h) AS BIGINT) AS h_lo,
           CAST(MAX(h) AS BIGINT) AS h_hi,
           CAST((MAX(u) - MIN(u) + 1) * (MAX(h) - MIN(h) + 1) AS BIGINT)
             AS extent_cells
    FROM coded
    GROUP BY 1
    ORDER BY file_id
    """,
    doc="Z-order layout planner [ext/layout]: Morton-interleave (user "
    "bucket, hour bucket) -> file groups by code prefix, emitting the "
    "per-file zone-map extents that make EITHER-column predicates "
    "prune ~15/16 of files. Pure integer bit ops; one projection + one "
    "256-group aggregate.",
)(_events_zorder_layout)


def _classifier_calibration_bins(spark: SparkSession, sf: str) -> DataFrame:
    """Reliability diagram for the hashed quality classifier: bin
    clf_prob into deciles and compare mean predicted probability with
    the empirical rate of the rule-based quality gate (score ≥ 0.5,
    the ``quality_keep`` predicate) — the standard calibration audit
    before a learned filter replaces a heuristic one.

    Exactness: clf_prob is hash-verified identical cross-engine (the
    classifier entry), so prob units pu = round(prob·10⁴) and the
    decile pu div 1000 are deterministic integer derivations of
    identical doubles; the label is the quality_keep integer predicate
    (Spark) ≡ rounded-score ≥ 0.5 (DuckDB) — the pytest-pinned
    identity from corpus_curation_pipeline. mean_pred and pos_rate are
    grid quotients → ratio_round.

    Plan: two per-doc signal subplans (word-explode classifier;
    projection-only quality gate) joined on doc_id, then a 10-group
    aggregate — at 100 TB the join is the cost, both sides co-partition
    on doc_id and the aggregate map-side combines to 10 rows."""
    docs = _t(spark, sf, "documents")
    clf = _text.quality_classifier(docs).select("doc_id", "clf_prob")
    pos = _text.quality_keep(docs, 0.5).withColumn("is_pos", F.lit(1))
    pu = F.round(F.col("clf_prob") * 10000).cast("long")
    j = clf.join(pos, "doc_id", "left").select(
        pu.alias("pu"),
        F.coalesce(F.col("is_pos"), F.lit(0)).alias("is_pos"),
    )
    binc = F.least(F.expr("pu div 1000"), F.lit(9))
    return (
        j.groupBy(binc.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("pu").alias("pu_sum"),
            F.sum("is_pos").alias("n_pos"),
        )
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_pos").cast("long").alias("n_pos"),
            ratio_round(
                F.col("pu_sum"), F.col("n_docs") * 10000, 4
            ).alias("mean_pred"),
            ratio_round(F.col("n_pos"), F.col("n_docs"), 4).alias(
                "pos_rate"
            ),
        )
        .orderBy("bin")
    )


_register(
    "classifier_calibration_bins",
    f"""
    WITH clf AS ({REGISTRY["text_quality_classifier"].oracle}),
    base AS (
      SELECT doc_id,
             len(string_split(t, ' ')) AS n_words,
             length(replace(t, ' ', '')) AS letters,
             CAST({_lang_score_sql("(' ' || t || ' ')", "en")} AS BIGINT)
               AS stops
      FROM (SELECT doc_id, {_NORM_SQL} AS t FROM documents)
    ),
    lab AS (
      SELECT doc_id,
             CASE WHEN {_QS_SCORE_SQL} >= 0.5 THEN 1 ELSE 0 END AS is_pos
      FROM base
    ),
    j AS (
      SELECT CAST(ROUND(clf.clf_prob * 10000) AS BIGINT) AS pu,
             lab.is_pos
      FROM clf JOIN lab USING (doc_id)
    )
    SELECT CAST(LEAST(pu // 1000, 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_pos) AS BIGINT) AS n_pos,
           {ratio_round_sql('SUM(pu)', 'COUNT(*) * 10000', 4)}
             AS mean_pred,
           {ratio_round_sql('SUM(is_pos)', 'COUNT(*)', 4)} AS pos_rate
    FROM j
    GROUP BY 1
    ORDER BY bin
    """,
    doc="Classifier calibration bins [ext/text/eval]: decile "
    "reliability table of the hashed quality classifier against the "
    "rule-based quality gate (score >= 0.5); prob units and deciles "
    "are integer derivations of hash-verified doubles, mean_pred and "
    "pos_rate round via ratio_round.",
)(_classifier_calibration_bins)


def _dataset_temporal_split(spark: SparkSession, sf: str) -> DataFrame:
    """Temporal 80/10/10 train/val/test split on the day grid — the
    forecasting/online-model split where random or hash splits leak the
    future into training. Cut points are exact integer-count
    inequalities on the day-cumulative distribution (train while
    5·cum ≤ 4·N, val while 10·cum ≤ 9·N), so whole days never straddle
    a boundary and no float quantile is involved. The emitted per-split
    day_lo/day_hi ARE the leakage proof: train.day_hi < val.day_lo <
    val.day_hi < test.day_lo by construction.

    Scale shape: the corpus collapses to the |days| dimension first
    (map-side combine); the running sum and split labels run over that
    dimension table only (single-task window over |days| rows — the
    orders_open_backlog idiom). The day table has two consumers (total
    + cumulative) → lazily checkpointed."""
    from pyspark.sql import Window as _W

    days = (
        _t(spark, sf, "events")
        .groupBy(
            (F.unix_millis(F.date_trunc("day", F.col("ts"))) / 86400000)
            .cast("long")
            .alias("day")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    tot = days.agg(F.sum("n").alias("total"))
    w = _W.orderBy("day").rowsBetween(_W.unboundedPreceding, 0)
    cum = days.withColumn("cum", F.sum("n").over(w)).crossJoin(
        F.broadcast(tot)
    )
    split = (
        F.when(5 * F.col("cum") <= 4 * F.col("total"), F.lit("train"))
        .when(10 * F.col("cum") <= 9 * F.col("total"), F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        cum.select(split.alias("split"), "day", "n")
        .groupBy("split")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.min("day").cast("long").alias("day_lo"),
            F.max("day").cast("long").alias("day_hi"),
        )
        .orderBy("split")
    )


_register(
    "dataset_temporal_split",
    """
    WITH days AS (
      SELECT epoch_ms(date_trunc('day', ts)) // 86400000 AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(n) AS total FROM days),
    cum AS (
      SELECT day, n,
             SUM(n) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum
      FROM days
    ),
    lab AS (
      SELECT day, n,
             CASE WHEN 5 * cum <= 4 * total THEN 'train'
                  WHEN 10 * cum <= 9 * total THEN 'val'
                  ELSE 'test' END AS split
      FROM cum CROSS JOIN tot
    )
    SELECT split,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MIN(day) AS BIGINT) AS day_lo,
           CAST(MAX(day) AS BIGINT) AS day_hi
    FROM lab
    GROUP BY 1
    ORDER BY split
    """,
    doc="Temporal 80/10/10 split on the day grid [ext/sampling/"
    "pipeline]: cut points as exact integer-count inequalities over "
    "the day-cumulative distribution (whole days never straddle a "
    "boundary); per-split day ranges double as the no-future-leakage "
    "proof. Day-dimension window only.",
)(_dataset_temporal_split)


# --- Sixth continuation batch: fusion / MRR / stats / debounce ----------

# Reciprocal-rank-fusion weights 1/(60+r) as exact 1e-12-unit integer
# literals shared by both engines (the nDCG-discount trick): fused
# scores become exact integer sums — no float ever enters the ranking.
_RRF_U = [round(1_000_000_000_000 / (60 + r)) for r in range(1, 11)]
# MRR reciprocal ranks 1/r on the same shared-literal footing (1e-9).
_MRR_U = [round(1_000_000_000 / r) for r in range(1, 11)]


def _rank_unit_col(col: str, units: list[int]):
    c = F.when(F.col(col) == 1, F.lit(units[0]))
    for r in range(2, len(units) + 1):
        c = c.when(F.col(col) == r, F.lit(units[r - 1]))
    return c


def _rank_unit_case(col: str, units: list[int]) -> str:
    whens = " ".join(
        f"WHEN {r} THEN {units[r - 1]}" for r in range(1, len(units) + 1)
    )
    return f"CASE {col} {whens} ELSE 0 END"


def _retrieval_rrf_fusion(spark: SparkSession, sf: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion: the exact-cosine
    retriever and the binary-Hamming retriever each produce a top-10
    list per query; RRF re-scores every candidate as Σ 1/(60+rank)
    over the lists containing it (Cormack et al.'s rank fusion — the
    standard way production search merges lexical + dense retrievers
    without score calibration). Top-5 fused per query.

    Exactness: the two retrievers are the already-oracle-checked
    ``brute_force_topk`` and ``hamming_topk`` plans; their integer
    RANKS map to shared Python-literal 1e-12 units, so the fused score
    is an exact BIGINT sum with (score desc, neighbor_id) ties — no
    float enters the fusion at all.

    Scale shape: fusion itself is candidate-sized (≤ |queries|·20
    rows): one unionByName, one groupBy, one per-query rank window.
    At 100 TB only the underlying retrievers change (IVF/banded
    variants slot in); the fusion layer is invariant."""
    from pyspark.sql import Window

    from .operators.quantize import hamming_topk
    from .operators.similarity import brute_force_topk

    emb = _t(spark, sf, "embeddings")
    pred = F.col("vec_id") < 10
    cos = brute_force_topk(emb, pred, k=10).select(
        "query_id", "neighbor_id", "rnk", F.lit("cos").alias("src")
    )
    ham = hamming_topk(emb, pred, k=10).select(
        "query_id", "neighbor_id", "rnk", F.lit("ham").alias("src")
    )
    both = cos.unionByName(ham).select(
        "query_id",
        "neighbor_id",
        "src",
        _rank_unit_col("rnk", _RRF_U).alias("u"),
        "rnk",
    )
    fused = both.groupBy("query_id", "neighbor_id").agg(
        F.sum("u").alias("rrf_units"),
        F.count(F.lit(1)).alias("n_lists"),
        F.min(F.when(F.col("src") == "cos", F.col("rnk"))).alias("cos_rnk"),
        F.min(F.when(F.col("src") == "ham", F.col("rnk"))).alias("ham_rnk"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_units"), F.asc("neighbor_id")
    )
    return (
        fused.withColumn("fused_rnk", F.row_number().over(w))
        .filter(F.col("fused_rnk") <= 5)
        .select(
            "query_id",
            F.col("fused_rnk").cast("long").alias("fused_rnk"),
            "neighbor_id",
            F.col("rrf_units").cast("long").alias("rrf_units"),
            F.col("n_lists").cast("long").alias("n_lists"),
            F.col("cos_rnk").cast("long").alias("cos_rnk"),
            F.col("ham_rnk").cast("long").alias("ham_rnk"),
        )
        .orderBy("query_id", "fused_rnk")
    )


_register(
    "retrieval_rrf_fusion",
    f"""
    WITH {_BINPACK_SQL.strip()},
    {_hamming_topk_sql(10, 10, "ham")},
    {_cos_topk_sql(10, 10, "cosr")},
    u AS (
      SELECT query_id, neighbor_id, 'cos' AS src, rnk FROM cosr
      UNION ALL
      SELECT query_id, neighbor_id, 'ham' AS src, rnk FROM ham
    ),
    fused AS (
      SELECT query_id, neighbor_id,
             SUM({_rank_unit_case('rnk', _RRF_U)}) AS rrf_units,
             COUNT(*) AS n_lists,
             MIN(CASE WHEN src = 'cos' THEN rnk END) AS cos_rnk,
             MIN(CASE WHEN src = 'ham' THEN rnk END) AS ham_rnk
      FROM u GROUP BY 1, 2
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY rrf_units DESC, neighbor_id) AS fused_rnk
      FROM fused
    )
    SELECT query_id,
           CAST(fused_rnk AS BIGINT) AS fused_rnk,
           neighbor_id,
           CAST(rrf_units AS BIGINT) AS rrf_units,
           CAST(n_lists AS BIGINT) AS n_lists,
           CAST(cos_rnk AS BIGINT) AS cos_rnk,
           CAST(ham_rnk AS BIGINT) AS ham_rnk
    FROM r WHERE fused_rnk <= 5
    ORDER BY query_id, fused_rnk
    """,
    doc="Reciprocal-rank fusion of the exact-cosine and binary-Hamming "
    "retrievers [ext/similarity/fusion]: 1/(60+r) weights as shared "
    "1e-12-unit integer literals, fused score an exact BIGINT sum, "
    "(score desc, neighbor_id) ties — no float enters the fusion.",
)(_retrieval_rrf_fusion)


def _retrieval_mrr(spark: SparkSession, sf: str) -> DataFrame:
    """MRR@10 of the binary-Hamming retriever with label-match
    relevance — the one-number retrieval summary (companion of the
    per-query recall@5 and nDCG@10 entries): mean over queries of
    1/rank-of-first-relevant, 0 when nothing relevant surfaces.

    Exactness: reciprocal ranks map to shared Python-literal 1e-9
    integer units (the nDCG-discount trick), so the MRR numerator is an
    exact integer sum and MRR/mean_first_rank are grid quotients →
    ratio_round; n_hit = 0 yields NULL mean_first_rank, never a
    0-division.

    Scale shape: the 200-row top-k result broadcasts against the label
    projection; everything after the retriever is query-set-sized
    (one aggregate to a single row)."""
    from .operators.quantize import hamming_topk

    emb = _t(spark, sf, "embeddings")
    labels = emb.select("vec_id", "label")
    top = hamming_topk(emb, F.col("vec_id") < 20, k=10)
    q_lab = labels.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("q_label")
    )
    firstrel = (
        labels.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("n_label"),
        )
        .join(F.broadcast(top.join(F.broadcast(q_lab), "query_id")), "neighbor_id")
        .filter(F.col("n_label") == F.col("q_label"))
        .groupBy("query_id")
        .agg(F.min("rnk").alias("first_rel"))
    )
    per_q = q_lab.join(F.broadcast(firstrel), "query_id", "left")
    summary = per_q.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.sum(F.col("first_rel").isNotNull().cast("long")).alias("n_hit"),
        F.sum(
            F.coalesce(_rank_unit_col("first_rel", _MRR_U), F.lit(0))
        ).alias("ru_sum"),
        F.sum(F.coalesce(F.col("first_rel"), F.lit(0))).alias("fr_sum"),
    )
    return summary.select(
        F.col("n_queries").cast("long").alias("n_queries"),
        F.col("n_hit").cast("long").alias("n_hit"),
        ratio_round(
            F.col("ru_sum"), F.col("n_queries") * F.lit(1_000_000_000), 4
        ).alias("mrr"),
        F.when(
            F.col("n_hit") > 0,
            ratio_round(F.col("fr_sum"), F.col("n_hit"), 4),
        ).alias("mean_first_rank"),
    )


_register(
    "retrieval_mrr",
    f"""
    WITH {_BINPACK_SQL.strip()},
    {_hamming_topk_sql(20, 10, "top")},
    ql AS (SELECT vec_id AS query_id, label AS q_label FROM embeddings
           WHERE vec_id < 20),
    fr AS (
      SELECT t.query_id, MIN(t.rnk) AS first_rel
      FROM top t
      JOIN ql ON ql.query_id = t.query_id
      JOIN embeddings e ON e.vec_id = t.neighbor_id
      WHERE e.label = ql.q_label
      GROUP BY 1
    ),
    per_q AS (
      SELECT ql.query_id, fr.first_rel
      FROM ql LEFT JOIN fr ON fr.query_id = ql.query_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hit,
           {ratio_round_sql(
               f"SUM({_rank_unit_case('first_rel', _MRR_U)})",
               "COUNT(*) * 1000000000", 4)} AS mrr,
           CASE WHEN SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END) > 0
                THEN {ratio_round_sql(
                    "SUM(COALESCE(first_rel, 0))",
                    "SUM(CASE WHEN first_rel IS NOT NULL THEN 1 ELSE 0 END)",
                    4)}
           END AS mean_first_rank
    FROM per_q
    """,
    doc="MRR@10 of binary-Hamming retrieval with label relevance "
    "[ext/similarity/eval]: reciprocal ranks as shared 1e-9-unit "
    "integer literals, numerator an exact integer sum, MRR and "
    "mean_first_rank grid quotients via ratio_round; zero-hit guard.",
)(_retrieval_mrr)


# One shared column list drives BOTH engines' statistics profiles — the
# Spark explode arms and the oracle UNION arms can never drift apart.
_STATS_COLS = {
    "events": ("event_type", "props", "user_id", "value"),
    "orders": ("o_custkey", "o_orderpriority", "o_orderstatus",
               "o_totalprice"),
}


def _table_stats_profile(spark: SparkSession, sf: str) -> DataFrame:
    """ANALYZE-style column statistics collection — the input the
    cost-based optimizer needs for join ordering and broadcast
    decisions: per column, row count, non-null count, EXACT distinct
    count, and null fraction.

    Exactness: values serve only as intra-engine grouping keys (never
    output, never compared cross-engine); both engines' double→string
    casts are round-trippable (injective), so the NDV counts agree.
    null_frac is a grid quotient → ratio_round.

    Scale shape: the scalable exact-NDV plan, NOT a multi-distinct
    aggregate (Spark plans those as an Expand that multiplies the fact
    table by |columns|+1 before the shuffle): one scan per table,
    explode ×|columns|, then a two-level aggregate — the first level
    map-side combines to ≤ NDV rows per column before anything
    shuffles, the second collapses to |columns| rows. Spark's own
    ANALYZE uses HLL sketches for NDV; this is the exact baseline, and
    ``approx_distinct_users_per_type`` is the sketch rung."""
    parts = []
    for tname, cols in sorted(_STATS_COLS.items()):
        kv = (
            _t(spark, sf, tname)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("c"),
                                F.col(c).cast("string").alias("v"),
                            )
                            for c in cols
                        ]
                    )
                ).alias("kv")
            )
            .select(
                F.col("kv.c").alias("column_name"), F.col("kv.v").alias("v")
            )
        )
        per_val = kv.groupBy("column_name", "v").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        parts.append(
            per_val.groupBy("column_name")
            .agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(
                    F.when(F.col("v").isNotNull(), F.col("cnt")).otherwise(0)
                ).alias("n_nonnull"),
                F.sum(
                    F.when(F.col("v").isNotNull(), 1).otherwise(0)
                ).alias("ndv"),
            )
            .select(
                F.lit(tname).alias("table_name"),
                "column_name",
                F.col("n_rows").cast("long").alias("n_rows"),
                F.col("n_nonnull").cast("long").alias("n_nonnull"),
                F.col("ndv").cast("long").alias("ndv"),
                ratio_round(
                    F.col("n_rows") - F.col("n_nonnull"), F.col("n_rows"), 4
                ).alias("null_frac"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("table_name", "column_name")


_STATS_KV_SQL = "\n      UNION ALL\n".join(
    f"      SELECT '{t}' AS table_name, '{c}' AS column_name,\n"
    f"             CAST({c} AS VARCHAR) AS v FROM {t}"
    for t, cols in sorted(_STATS_COLS.items())
    for c in cols
)

_register(
    "table_stats_profile",
    f"""
    WITH kv AS (
{_STATS_KV_SQL}
    ),
    per_val AS (
      SELECT table_name, column_name, v, COUNT(*) AS cnt
      FROM kv GROUP BY 1, 2, 3
    )
    SELECT table_name, column_name,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END) AS BIGINT)
             AS n_nonnull,
           CAST(SUM(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS ndv,
           {ratio_round_sql(
               "SUM(cnt) - SUM(CASE WHEN v IS NOT NULL THEN cnt ELSE 0 END)",
               "SUM(cnt)", 4)} AS null_frac
    FROM per_val
    GROUP BY 1, 2
    ORDER BY table_name, column_name
    """,
    doc="ANALYZE-style exact column statistics (n_rows, n_nonnull, "
    "exact NDV, null_frac) for CBO inputs [ext/stats]: scalable "
    "two-level exact-NDV plan (map-side combine to <=NDV rows per "
    "column, no multi-distinct Expand); one shared column list drives "
    "both engines.",
)(_table_stats_profile)


def _events_idempotent_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Ingestion debounce screen: at-least-once pipelines re-deliver
    the same logical event in bursts (client retries, replayed
    offsets), so identical (user, type, payload) events arriving
    within 600 s of the previous one chain into a single burst and
    only the burst head survives — the batch twin of streaming
    ``dropDuplicates``-with-watermark hygiene. Emits the per-type
    kept/dropped accounting.

    Exactness: burst heads are a pure integer predicate on the lag
    gap (gap NULL or > 600000 ms) with a (ts, event_id) deterministic
    order; drop_rate is a grid quotient → ratio_round.

    Scale shape: one window partitioned by the FINE (user, type,
    payload) key — millions of small partitions, no hot key (the
    opposite of the banned whole-table window) — then a |types|-row
    map-side-combined aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf, "events").select(
        "user_id",
        "event_type",
        "props",
        F.unix_millis("ts").alias("ts_ms"),
        "event_id",
    )
    w = Window.partitionBy("user_id", "event_type", "props").orderBy(
        "ts_ms", "event_id"
    )
    prev = F.lag("ts_ms").over(w)
    keep = (prev.isNull() | (F.col("ts_ms") - prev > 600000)).cast("long")
    return (
        ev.withColumn("keep", keep)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("keep").alias("n_kept"),
        )
        .select(
            "event_type",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_kept").cast("long").alias("n_kept"),
            (F.col("n_events") - F.col("n_kept"))
            .cast("long")
            .alias("n_dropped"),
            ratio_round(
                F.col("n_events") - F.col("n_kept"), F.col("n_events"), 4
            ).alias("drop_rate"),
        )
        .orderBy("event_type")
    )


_register(
    "events_idempotent_dedup",
    f"""
    WITH ev AS (
      SELECT event_type,
             CASE WHEN LAG(epoch_ms(ts)) OVER (
                    PARTITION BY user_id, event_type, props
                    ORDER BY epoch_ms(ts), event_id) IS NULL
                  OR epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (
                    PARTITION BY user_id, event_type, props
                    ORDER BY epoch_ms(ts), event_id) > 600000
                  THEN 1 ELSE 0 END AS keep
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(keep) AS BIGINT) AS n_kept,
           CAST(COUNT(*) - SUM(keep) AS BIGINT) AS n_dropped,
           {ratio_round_sql("COUNT(*) - SUM(keep)", "COUNT(*)", 4)}
             AS drop_rate
    FROM ev
    GROUP BY 1
    ORDER BY event_type
    """,
    doc="Ingestion debounce screen [ext/pipeline/dedup]: re-delivered "
    "(user, type, payload) events within 600 s chain into one burst, "
    "only the head survives; fine-keyed lag window (no hot key), "
    "|types|-row accounting, drop_rate via ratio_round.",
)(_events_idempotent_dedup)


# --- Seventh continuation batch: reshape / integrity / CBO / linkage ----

def _orders_unpivot_measures(spark: SparkSession, sf: str) -> DataFrame:
    """Wide-to-long reshape (UNPIVOT / melt — the inverse of the pivot
    surface): the per-status measure block (order count, total cents,
    max cents) unpivots into (status, measure, value) rows.

    Exactness: every measure is an exact integer (counts / cents-grid
    sums), so the shared BIGINT value column carries no rounding site.

    Scale shape: unpivot is an Expand node — it multiplies its input by
    |measures| BEFORE anything downstream, so the aggregation runs
    FIRST and the reshape applies to the |status|-row result, never to
    the fact table. At 100 TB the Expand touches 3 rows per status."""
    agg = (
        _t(spark, sf, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            cents(F.sum("o_totalprice")).alias("total_cents"),
            cents(F.max("o_totalprice")).alias("max_cents"),
        )
    )
    return (
        agg.unpivot(
            ["o_orderstatus"],
            ["n_orders", "total_cents", "max_cents"],
            "measure",
            "value",
        )
        .orderBy("o_orderstatus", "measure")
    )


_register(
    "orders_unpivot_measures",
    f"""
    WITH agg AS (
      SELECT o_orderstatus,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             {cents_sql("SUM(o_totalprice)")} AS total_cents,
             {cents_sql("MAX(o_totalprice)")} AS max_cents
      FROM orders GROUP BY 1
    )
    SELECT o_orderstatus, measure, CAST(value AS BIGINT) AS value
    FROM (UNPIVOT agg ON n_orders, total_cents, max_cents
          INTO NAME measure VALUE value)
    ORDER BY o_orderstatus, measure
    """,
    doc="UNPIVOT/melt reshape of the per-status measure block "
    "[ext/relational/reshape]: aggregate first, Expand the |status|-row "
    "result (never the fact table); all measures exact integers.",
)(_orders_unpivot_measures)


# Canonical NULL sentinel for checksum serialization: concat_ws SKIPS
# NULLs on both engines, which would make ('a', NULL) collide with
# ('a',) — every field is coalesced to this sentinel instead. The
# actual U+2400 SYMBOL-FOR-NULL character (not its ASCII escape
# spelling, which ordinary text — e.g. JSON — could forge). Canonical
# home: operators/dedup.py.
from .operators.dedup import CHECKSUM_NULL as _CK_NULL  # noqa: E402


def _orders_table_checksum(spark: SparkSession, sf: str) -> DataFrame:
    """Order-independent table content checksum — the replication /
    migration verification primitive: canonicalize each row to a
    delimited string, md5 it, and aggregate the two 28-bit digest
    pieces with the commutative pair (SUM, BIT_XOR) plus the row
    count. Two table copies agree iff their checksums agree (up to
    md5 collisions, ~2^-56 per differing pair across both lanes).

    Exactness: the canonical form is all-integer (cents grid for the
    price, epoch millis for the timestamp) and NULLs map to an
    explicit sentinel (concat_ws would silently skip them), so both
    engines hash identical bytes; SUM runs in DECIMAL(38,0)/HUGEINT
    and BIT_XOR on BIGINT — all order-independent (28-bit pieces sum
    safely in int64 up to ~3e10 rows; widen to DECIMAL(38,0) past that).

    Scale shape: one scan, one partial-aggregated reduction to a
    single row; no shuffle wider than the 5 aggregate cells. This is
    the pattern for verifying a 100 TB copy without sorting either
    side (cf. a naive ORDER BY comparison, which is two global
    sorts)."""
    from .operators.dedup import md5_hash_pieces

    o = _t(spark, sf, "orders")
    nul = F.lit(_CK_NULL)
    row_str = F.concat_ws(
        "|",
        F.coalesce(F.col("o_orderkey").cast("string"), nul),
        F.coalesce(F.col("o_custkey").cast("string"), nul),
        F.coalesce(F.col("o_orderstatus"), nul),
        F.coalesce(F.col("o_orderpriority"), nul),
        F.coalesce(cents(F.col("o_totalprice")).cast("string"), nul),
        F.coalesce(F.unix_millis("o_orderdate").cast("string"), nul),
    )
    x1, x2 = md5_hash_pieces(row_str)
    return o.select(x1.alias("x1"), x2.alias("x2")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("x1").cast("long").alias("sum_h1"),
        F.sum("x2").cast("long").alias("sum_h2"),
        F.bit_xor("x1").cast("long").alias("xor_h1"),
        F.bit_xor("x2").cast("long").alias("xor_h2"),
    )


_register(
    "orders_table_checksum",
    f"""
    WITH r AS (
      SELECT concat_ws('|',
               COALESCE(CAST(o_orderkey AS VARCHAR), '{_CK_NULL}'),
               COALESCE(CAST(o_custkey AS VARCHAR), '{_CK_NULL}'),
               COALESCE(o_orderstatus, '{_CK_NULL}'),
               COALESCE(o_orderpriority, '{_CK_NULL}'),
               COALESCE(CAST({cents_sql("o_totalprice")} AS VARCHAR),
                        '{_CK_NULL}'),
               COALESCE(CAST(epoch_ms(o_orderdate) AS VARCHAR),
                        '{_CK_NULL}')) AS s
      FROM orders
    ),
    p AS (
      SELECT ('0x' || substr(md5(s), 1, 7))::BIGINT AS x1,
             ('0x' || substr(md5(s), 8, 7))::BIGINT AS x2
      FROM r
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(x1) AS BIGINT) AS sum_h1,
           CAST(SUM(x2) AS BIGINT) AS sum_h2,
           CAST(bit_xor(x1) AS BIGINT) AS xor_h1,
           CAST(bit_xor(x2) AS BIGINT) AS xor_h2
    FROM p
    """,
    doc="Order-independent table content checksum [ext/integrity]: "
    "canonical all-integer row serialization (NULL sentinel — "
    "concat_ws skips NULLs), md5 pieces aggregated with commutative "
    "SUM + BIT_XOR; one partial-aggregated reduction, no sort.",
)(_orders_table_checksum)


# Coarse value-grid width for the equi-depth histogram: 2^16 cents
# (~$655). The TPC-H price range is fixed (~8e4..5.5e7 cents), so the
# grid has <= ~850 rows at ANY scale factor — the cumulative window
# runs over the grid, never over rows.
_EQUIDEPTH_COARSE = 65536
_EQUIDEPTH_BINS = 10


def _price_histogram_equidepth(spark: SparkSession, sf: str) -> DataFrame:
    """Equi-depth (height-balanced) histogram of o_totalprice — the
    CBO selectivity structure that complements ``table_stats_profile``
    (every warehouse ANALYZE collects one): 10 bins of ~equal row
    count, boundaries quantized to a fixed coarse value grid.

    Exactness: bin assignment is pure integer arithmetic — a coarse
    bucket with cum_before rows ahead of it lands in bin
    (cum_before * 10) DIV total + 1 — and lo/hi are exact cents, so
    there is no rounding site at all.

    Scale shape: the scalable exact shape — one map-side-combined
    aggregate to the <=850-row coarse grid, a grid-sized cumulative
    window, a 10-row re-aggregate. A per-row NTILE would be a global
    single-task sort; quantizing boundaries to the value grid is how
    real optimizers bound histogram cost (bounded resolution), and
    depth stays equal up to one coarse bucket's mass."""
    g = (
        _t(spark, sf, "orders")
        .select(cents(F.col("o_totalprice")).alias("v"))
        # a NULL total has no histogram position: its NULL coarse
        # bucket would sort NULLS-FIRST on Spark vs NULLS-LAST in the
        # oracle's cumulative window (r8 TPC-H degenerate probe)
        .filter(F.col("v").isNotNull())
        .groupBy(F.floor(F.col("v") / F.lit(_EQUIDEPTH_COARSE)).alias("cb"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
        )
    )
    binned = g.select(
        "cnt",
        "lo",
        "hi",
        F.least(
            F.lit(_EQUIDEPTH_BINS),
            F.expr(
                f"(CAST((sum(cnt) OVER (ORDER BY cb ROWS BETWEEN UNBOUNDED "
                f"PRECEDING AND CURRENT ROW) - cnt) AS BIGINT) * "
                f"{_EQUIDEPTH_BINS}) DIV (sum(cnt) OVER ())"
            )
            + F.lit(1),
        ).alias("bin"),
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.sum("cnt").cast("long").alias("n_rows"),
            F.min("lo").cast("long").alias("lo_cents"),
            F.max("hi").cast("long").alias("hi_cents"),
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
        )
        .select(F.col("bin").cast("long").alias("bin"),
                "n_rows", "lo_cents", "hi_cents", "n_buckets")
        .orderBy("bin")
    )


_register(
    "price_histogram_equidepth",
    f"""
    WITH v AS (SELECT {cents_sql("o_totalprice")} AS v FROM orders
               WHERE o_totalprice IS NOT NULL),
    g AS (
      SELECT v // {_EQUIDEPTH_COARSE} AS cb, COUNT(*) AS cnt,
             MIN(v) AS lo, MAX(v) AS hi
      FROM v GROUP BY 1
    ),
    b AS (
      SELECT cnt, lo, hi,
             LEAST({_EQUIDEPTH_BINS},
                   ((SUM(cnt) OVER (ORDER BY cb ROWS BETWEEN UNBOUNDED
                       PRECEDING AND CURRENT ROW) - cnt) * {_EQUIDEPTH_BINS})
                     // SUM(cnt) OVER () + 1) AS bin
      FROM g
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(MIN(lo) AS BIGINT) AS lo_cents,
           CAST(MAX(hi) AS BIGINT) AS hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n_buckets
    FROM b GROUP BY 1 ORDER BY 1
    """,
    doc="Equi-depth price histogram for CBO selectivity [ext/stats]: "
    "boundaries quantized to a fixed <=850-row coarse cents grid — "
    "map-side-combined aggregate, grid-sized cumulative window, 10-row "
    "re-aggregate; bin assignment exact integer DIV, no per-row NTILE "
    "global sort.",
)(_price_histogram_equidepth)


_RANK_DECILES = 10


def _customer_balance_rank_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Per-customer rank features over account balance — the
    percentile-feature block (rank, percent_rank, cume_dist, decile)
    feature stores attach before model training.

    Exactness: the order is total ((bal_cents, c_custkey)), so rank ==
    row_number and NTILE is deterministic; percent_rank = (r-1)/(n-1)
    and cume_dist = r/n are grid quotients -> ratio_round (the builtin
    double-returning forms never run); n = 1 yields NULL percent_rank
    on both engines rather than 0/0.

    Scale shape: one unpartitioned window over the CUSTOMER DIMENSION
    (bounded, ~1.5e4 rows at sf0.1) — the documented dimension-sized
    exception to the whole-table-window ban; fact tables never enter
    the plan. All four features share one WindowExec pass."""
    from pyspark.sql import Window

    # a balance-less customer has no rank: a NULL bal_cents would sort
    # NULLS-FIRST on Spark vs NULLS-LAST in the oracle (the CLAUDE.md
    # nullable-rank rule; r8 TPC-H degenerate probe)
    cust = (
        _t(spark, sf, "customer")
        .select("c_custkey", cents(F.col("c_acctbal")).alias("bal_cents"))
        .filter(F.col("bal_cents").isNotNull())
    )
    order = [F.asc("bal_cents"), F.asc("c_custkey")]
    w = Window.orderBy(*order)
    wall = Window.orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    r = F.row_number().over(w)
    n = F.count(F.lit(1)).over(wall)
    return (
        cust.select(
            "c_custkey",
            "bal_cents",
            r.cast("long").alias("rnk"),
            n.alias("n"),
            F.ntile(_RANK_DECILES).over(w).cast("long").alias("decile"),
        )
        .select(
            "c_custkey",
            "bal_cents",
            "rnk",
            F.when(
                F.col("n") > 1,
                ratio_round(F.col("rnk") - 1, F.col("n") - 1, 4),
            ).alias("pct_rank"),
            ratio_round(F.col("rnk"), F.col("n"), 4).alias("cume_dist"),
            "decile",
        )
        .orderBy("rnk")
    )


_register(
    "customer_balance_rank_profile",
    f"""
    WITH c AS (
      SELECT c_custkey, {cents_sql("c_acctbal")} AS bal_cents FROM customer
      WHERE c_acctbal IS NOT NULL
    ),
    r AS (
      SELECT c_custkey, bal_cents,
             ROW_NUMBER() OVER ord AS rnk,
             COUNT(*) OVER () AS n,
             ntile({_RANK_DECILES}) OVER ord AS decile
      FROM c WINDOW ord AS (ORDER BY bal_cents, c_custkey)
    )
    SELECT c_custkey, bal_cents, CAST(rnk AS BIGINT) AS rnk,
           CASE WHEN n > 1
                THEN {ratio_round_sql("rnk - 1", "n - 1", 4)} END AS pct_rank,
           {ratio_round_sql("rnk", "n", 4)} AS cume_dist,
           CAST(decile AS BIGINT) AS decile
    FROM r ORDER BY rnk
    """,
    doc="Rank/percentile feature block over customer balance "
    "[ext/relational/window]: total (bal, key) order, percent_rank and "
    "cume_dist as ratio_round grid quotients, native NTILE deciles; one "
    "dimension-sized WindowExec pass.",
)(_customer_balance_rank_profile)


#: Longest silence (hours) LOCF will densify and carry a value across
#: (31 days). Beyond it the series BREAKS: the gap's hours are omitted
#: instead of zero-filled — the same outlier-proofing as
#: GAPFILL_MAX_HOURS (an unbounded [min, max] grid dies on one corrupt
#: far-out timestamp; the year-9999 probe OOM-killed the sibling
#: entry's unbounded form). The sparse ~1%-of-users subseries has
#: gaps up to 227 h at sf0.001 (measured), so the cap sits well above
#: the data and the capped form is output-identical on all fixtures.
LOCF_MAX_HOURS = 744


def _events_hourly_gapfill_locf(spark: SparkSession, sf: str) -> DataFrame:
    """Time-grid densification + last-observation-carried-forward — the
    feature-engineering primitive for regular-interval models over
    sparse activity: a ~1%-of-users purchase subseries is bucketed to
    hours; missing hours inside gaps of ≤ LOCF_MAX_HOURS between
    consecutive observed hours appear as zero-count gap rows whose
    locf_events carries the last observed count forward; longer
    silences are series breaks (hours omitted).

    Exactness: hour ids are exact epoch-millis DIV 3600000 integers,
    counts are integers — no rounding site.

    Scale shape: the fact table collapses to the hourly aggregate
    first (map-side combine); gap filling is a per-gap explode of a
    ≤744-int sequence carrying (prev hour, prev count) from ONE lag
    window over the hour DIMENSION — distributed, no timespan-sized
    spine array. The hourly table has two consumers (observed rows +
    gap scan) -> lazy localCheckpoint per the multi-consumer rule."""
    from pyspark.sql import Window

    hr = (
        _t(spark, sf, "events")
        .filter(
            (F.col("event_type") == "purchase")
            & (F.col("user_id") % 97 == 0)
        )
        .groupBy(
            (F.unix_millis(F.date_trunc("hour", F.col("ts"))) / 3600000)
            .cast("long")
            .alias("hour_id")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    w = Window.orderBy("hour_id")
    fill = (
        hr.select(
            "hour_id",
            F.lag("hour_id").over(w).alias("ph"),
            F.lag("cnt").over(w).alias("pc"),
        )
        .filter(
            F.col("ph").isNotNull()
            & (F.col("hour_id") - F.col("ph") > 1)
            & (F.col("hour_id") - F.col("ph") <= LOCF_MAX_HOURS + 1)
        )
        .select(
            F.explode(
                F.sequence(F.col("ph") + 1, F.col("hour_id") - 1)
            ).alias("hour_id"),
            F.lit(0).cast("long").alias("n_events"),
            F.col("pc").cast("long").alias("locf_events"),
            F.lit(1).cast("long").alias("is_gap"),
        )
    )
    obs = hr.select(
        "hour_id",
        F.col("cnt").cast("long").alias("n_events"),
        F.col("cnt").cast("long").alias("locf_events"),
        F.lit(0).cast("long").alias("is_gap"),
    )
    return obs.unionByName(fill).orderBy("hour_id")


_register(
    "events_hourly_gapfill_locf",
    f"""
    WITH hr AS (
      SELECT epoch_ms(date_trunc('hour', ts)) // 3600000 AS hour_id,
             COUNT(*) AS cnt
      FROM events
      WHERE event_type = 'purchase' AND user_id % 97 = 0
      GROUP BY 1
    ),
    gaps AS (
      SELECT hour_id, lag(hour_id) OVER (ORDER BY hour_id) AS ph,
             lag(cnt) OVER (ORDER BY hour_id) AS pc
      FROM hr
    )
    SELECT hour_id, CAST(cnt AS BIGINT) AS n_events,
           CAST(cnt AS BIGINT) AS locf_events,
           CAST(0 AS BIGINT) AS is_gap
    FROM hr
    UNION ALL
    SELECT unnest(generate_series(ph + 1, hour_id - 1)) AS hour_id,
           CAST(0 AS BIGINT) AS n_events,
           CAST(pc AS BIGINT) AS locf_events,
           CAST(1 AS BIGINT) AS is_gap
    FROM gaps
    WHERE ph IS NOT NULL AND hour_id - ph > 1
      AND hour_id - ph <= {LOCF_MAX_HOURS} + 1
    ORDER BY hour_id
    """,
    doc="Hourly time-grid densification + LOCF over a sparse purchase "
    "subseries [ext/timeseries]: exact integer hour ids, BOUNDED "
    "per-gap fill (<= 744 h between consecutive observed hours; longer "
    "silences break the series), zero-fill + "
    "last-observation-carried-forward from one lag window; fact "
    "collapses to the hour dimension before any window, hourly table "
    "checkpointed for its two consumers. Outlier-proof: no "
    "timespan-sized [min,max] spine (the year-9999 degenerate probe "
    "OOM-killed the unbounded sibling form).",
)(_events_hourly_gapfill_locf)


# Blocking parameters for the edit-distance linkage: candidates must
# share the first _ED_BLOCK normalized chars; blocks larger than
# _ED_BLOCK_CAP docs are dropped whole (boilerplate-prefix guard — at
# web scale a hot prefix would otherwise quadratically explode one
# block; the drop is explicit and mirrored by the oracle).
_ED_BLOCK = 12
_ED_BLOCK_CAP = 50
_ED_PREFIX = 80
_ED_MAXDIST = 12


def _doc_prefix_edit_pairs(spark: SparkSession, sf: str) -> DataFrame:
    """Edit-distance record linkage — the character-level near-dup
    verifier (complements the token-level Jaccard/MinHash family):
    documents sharing a 12-char normalized prefix block pair up, and a
    pair survives if the Levenshtein distance of their 80-char prefixes
    is <= 12.

    Exactness: Levenshtein is an exact integer metric with identical
    unit-cost semantics on both engines; normalization is the shared
    ``NORM_SQL`` contract. No rounding site.

    Scale shape: classic blocking — pairs form only within equal-prefix
    blocks (|pairs| ~ near-dup mass, never n^2), and blocks above
    _ED_BLOCK_CAP docs are dropped whole so one boilerplate prefix
    cannot quadratically explode a task; the per-pair DP cost is capped
    by the 80-char prefix bound. Block sizes come from a
    map-side-combined groupBy joined back, not a window."""
    from .operators.dedup import _norm

    docs = (
        _t(spark, sf, "documents")
        .select("doc_id", _norm(F.col("text")).alias("nt"))
        .withColumn("blk", F.substring("nt", 1, _ED_BLOCK))
        .withColumn("pfx", F.substring("nt", 1, _ED_PREFIX))
        .drop("nt")
    )
    ok_blocks = (
        docs.groupBy("blk")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter((F.col("bn") > 1) & (F.col("bn") <= _ED_BLOCK_CAP))
        .select("blk")
    )
    # two consumers (both sides of the self-join) -> the documents
    # scan + norm regex would otherwise run twice; the blocked subset is
    # near-dup-mass-sized, the checkpointable class.
    small = docs.join(F.broadcast(ok_blocks), "blk").localCheckpoint(
        eager=False
    )
    a = small.select(
        "blk", F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pfx_a")
    )
    b = small.select(
        "blk", F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pfx_b")
    )
    return (
        a.join(b, "blk")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pfx_a", "pfx_b").cast("long").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= _ED_MAXDIST)
        .orderBy("doc_a", "doc_b")
    )


_register(
    "doc_prefix_edit_pairs",
    f"""
    WITH d AS (
      SELECT doc_id,
             substr({_DEDUP_NORM_SQL.format(col="text")}, 1, {_ED_BLOCK})
               AS blk,
             substr({_DEDUP_NORM_SQL.format(col="text")}, 1, {_ED_PREFIX})
               AS pfx
      FROM documents
    ),
    ok AS (
      SELECT blk FROM d GROUP BY blk
      HAVING COUNT(*) > 1 AND COUNT(*) <= {_ED_BLOCK_CAP}
    ),
    s AS (SELECT d.* FROM d JOIN ok USING (blk))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.pfx, b.pfx) AS BIGINT) AS edit_dist
    FROM s a JOIN s b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE levenshtein(a.pfx, b.pfx) <= {_ED_MAXDIST}
    ORDER BY doc_a, doc_b
    """,
    doc="Edit-distance record linkage with prefix blocking "
    "[ext/dedup/linkage]: exact integer Levenshtein over 80-char "
    "normalized prefixes, pairs only within equal 12-char prefix "
    "blocks, hot blocks (>50 docs) dropped whole — |pairs| ~ near-dup "
    "mass, DP cost capped.",
)(_doc_prefix_edit_pairs)


def _join_cardinality_profile(spark: SparkSession, sf: str) -> DataFrame:
    """Join-size estimation from per-key histograms — the CBO step that
    decides shuffle vs broadcast BEFORE paying for the join:
    |A ⋈_k B| = Σ_k cnt_A(k)·cnt_B(k), computed from the two key-count
    tables. For equi-joins this identity is exact, so the profile also
    doubles as a way to measure a 100 TB join's output size (and its
    worst per-key fan-out — the skew signal AQE's skew-join keys on)
    without ever executing the wide join.

    Exactness: pure integer counts and products; no rounding site.

    Scale shape: each side collapses map-side to its |keys|-row count
    table; the profile join shuffles keys, not rows — the whole plan is
    key-cardinality-sized. Profiles both fact-fact (orders⋈lineitem)
    and fact-dim (orders⋈customer) shapes."""
    def profile(name, left, lk, right, rk):
        lc = left.groupBy(F.col(lk).alias("k")).agg(
            F.count(F.lit(1)).alias("cl")
        )
        rc = right.groupBy(F.col(rk).alias("k")).agg(
            F.count(F.lit(1)).alias("cr")
        )
        return (
            lc.join(rc, "k")
            .agg(
                F.count(F.lit(1)).alias("matched_keys"),
                F.sum(F.col("cl") * F.col("cr")).alias("est_rows"),
                F.max(F.col("cl") * F.col("cr")).alias("max_key_fanout"),
            )
            .select(
                F.lit(name).alias("join_name"),
                F.col("matched_keys").cast("long").alias("matched_keys"),
                F.col("est_rows").cast("long").alias("est_rows"),
                F.col("max_key_fanout").cast("long").alias("max_key_fanout"),
            )
        )

    orders = _t(spark, sf, "orders")
    a = profile(
        "lineitem_orders",
        _t(spark, sf, "lineitem"),
        "l_orderkey",
        orders,
        "o_orderkey",
    )
    b = profile(
        "orders_customer", orders, "o_custkey",
        _t(spark, sf, "customer"), "c_custkey",
    )
    return a.unionByName(b).orderBy("join_name")


_register(
    "join_cardinality_profile",
    """
    WITH lo AS (
      SELECT 'lineitem_orders' AS join_name,
             CAST(COUNT(*) AS BIGINT) AS matched_keys,
             CAST(SUM(cl * cr) AS BIGINT) AS est_rows,
             CAST(MAX(cl * cr) AS BIGINT) AS max_key_fanout
      FROM (SELECT l_orderkey AS k, COUNT(*) AS cl FROM lineitem GROUP BY 1) l
      JOIN (SELECT o_orderkey AS k, COUNT(*) AS cr FROM orders GROUP BY 1) o
        USING (k)
    ),
    oc AS (
      SELECT 'orders_customer' AS join_name,
             CAST(COUNT(*) AS BIGINT) AS matched_keys,
             CAST(SUM(cl * cr) AS BIGINT) AS est_rows,
             CAST(MAX(cl * cr) AS BIGINT) AS max_key_fanout
      FROM (SELECT o_custkey AS k, COUNT(*) AS cl FROM orders GROUP BY 1) l
      JOIN (SELECT c_custkey AS k, COUNT(*) AS cr FROM customer GROUP BY 1) o
        USING (k)
    )
    SELECT * FROM lo UNION ALL SELECT * FROM oc ORDER BY join_name
    """,
    doc="CBO join-size profile [ext/stats]: exact equi-join cardinality "
    "Sum cnt_A(k)*cnt_B(k) + worst per-key fan-out from the two key-count "
    "tables — key-cardinality-sized plan, the wide join never executes.",
)(_join_cardinality_profile)


def _events_partition_checksums(spark: SparkSession, sf: str) -> DataFrame:
    """Partition-granular content checksums — the incremental twin of
    ``orders_table_checksum``: one commutative (SUM, XOR) md5 checksum
    per event DAY, so two replicas are compared partition-by-partition
    and only the days whose checksums differ need re-sync (the rsync
    idea at table scale).

    Exactness: canonical form is all-integer/string (epoch millis, ids,
    type, props; the float ``value`` column stays out — a double joins
    a checksum only via a declared grid, cf. the cents lane in
    ``orders_table_checksum``); NULLs map to the shared sentinel.

    Scale shape: one scan, map-side-combined aggregate straight to
    |days| rows — the shuffle carries 5 cells per day. Day ids are
    exact floor-division epoch integers. Serialization + hashing live
    in ``dedup.event_checksum_pieces``."""
    from .operators.dedup import event_checksum_pieces

    ev = _t(spark, sf, "events")
    return (
        event_checksum_pieces(ev, F.unix_millis("ts"))
        .groupBy("day_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("x1").cast("long").alias("sum_h1"),
            F.sum("x2").cast("long").alias("sum_h2"),
            F.bit_xor("x1").cast("long").alias("xor_h1"),
            F.bit_xor("x2").cast("long").alias("xor_h2"),
        )
        .orderBy("day_id")
    )


_register(
    "events_partition_checksums",
    f"""
    WITH r AS (
      SELECT epoch_ms(date_trunc('day', ts)) // 86400000 AS day_id,
             concat_ws('|',
               COALESCE(CAST(event_id AS VARCHAR), '{_CK_NULL}'),
               COALESCE(CAST(epoch_ms(ts) AS VARCHAR), '{_CK_NULL}'),
               COALESCE(CAST(user_id AS VARCHAR), '{_CK_NULL}'),
               COALESCE(event_type, '{_CK_NULL}'),
               COALESCE(props, '{_CK_NULL}')) AS s
      FROM events
    ),
    p AS (
      SELECT day_id,
             ('0x' || substr(md5(s), 1, 7))::BIGINT AS x1,
             ('0x' || substr(md5(s), 8, 7))::BIGINT AS x2
      FROM r
    )
    SELECT day_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(x1) AS BIGINT) AS sum_h1,
           CAST(SUM(x2) AS BIGINT) AS sum_h2,
           CAST(bit_xor(x1) AS BIGINT) AS xor_h1,
           CAST(bit_xor(x2) AS BIGINT) AS xor_h2
    FROM p GROUP BY day_id ORDER BY day_id
    """,
    doc="Per-day partition checksums [ext/integrity]: commutative "
    "SUM+XOR md5 lanes per event day — replica diff localizes to the "
    "partitions whose checksums differ; one map-side-combined aggregate "
    "to |days| rows.",
)(_events_partition_checksums)


_INVIDX_TOPK = 50
_INVIDX_POSTINGS = 10


def _text_inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    """Inverted-index build — the search-infrastructure step under the
    BM25/TF-IDF retrievers: per term, document frequency, total term
    frequency, and the (capped, ascending) head of the posting list.
    Top-50 terms by document frequency.

    Exactness: counts are integers; postings are sorted arrays with the
    cap applied AFTER the sort on both engines, and the term ranking
    carries the (df desc, term asc) tie-breaker.

    Scale shape: two-level aggregation — (term, doc) tf map-side
    combines before the term-level roll-up, so the shuffle carries
    posting entries, not token instances; the posting ARRAY is capped
    at 10 ids (a real index shards the full list — the cap bounds
    driver-facing row width, and total_tf/doc_freq stay exact over the
    whole corpus). Final top-k is TakeOrderedAndProject."""
    from .operators.dedup import _norm

    td = (
        _t(spark, sf, "documents")
        .select(
            "doc_id",
            F.explode(F.split(_norm(F.col("text")), " ")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return (
        td.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("doc_freq"),
            F.sum("tf").cast("long").alias("total_tf"),
            # Posting head joined to a ' '-separated string: the driver's
            # canonicalizer cannot hash list cells (r6 latent red row).
            F.array_join(
                F.slice(
                    F.sort_array(F.collect_list("doc_id")),
                    1,
                    _INVIDX_POSTINGS,
                ).cast("array<string>"),
                " ",
            ).alias("postings_head"),
        )
        .orderBy(F.desc("doc_freq"), F.asc("term"))
        .limit(_INVIDX_TOPK)
    )


_register(
    "text_inverted_index",
    f"""
    WITH norm AS (
      SELECT doc_id, {_DEDUP_NORM_SQL.format(col="text")} AS t
      FROM documents
    ),
    tok AS (
      SELECT doc_id, unnest(string_split(t, ' ')) AS term FROM norm
    ),
    td AS (
      SELECT term, doc_id, COUNT(*) AS tf FROM tok
      WHERE term <> '' GROUP BY 1, 2
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS doc_freq,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           array_to_string((list_sort(list(doc_id)))[1:{_INVIDX_POSTINGS}],
                           ' ') AS postings_head
    FROM td GROUP BY term
    ORDER BY doc_freq DESC, term ASC LIMIT {_INVIDX_TOPK}
    """,
    doc="Inverted-index build [ext/text/search]: (term, doc) tf "
    "map-side combine, term-level roll-up with sorted capped posting "
    "heads, (df desc, term asc) top-50 via TakeOrderedAndProject.",
)(_text_inverted_index)


def _dataset_datacard(spark: SparkSession, sf: str) -> DataFrame:
    """Per-source dataset card — the governance summary a training-data
    release ships with: document/character/token counts, the dominant
    language, the exact-duplicate rate, mean and median document
    length. One row per source, all in one plan.

    Exactness: dup counting groups md5(normalized text) (identical to
    grouping the string, 2^-128 collision); avg/dup_rate are grid
    quotients -> ratio_round; the median is percentile_disc(0.5)
    computed on the (source, n_chars) VALUE GRID — smallest value with
    2*cum >= n, pure integers.

    Scale shape: three column-pruned scans of documents (stats, lang
    argmax, length grid) — raw-scan branches stay unshared per the
    no-raw-scan-checkpoint rule; every branch map-side combines to a
    source- or grid-sized table before its shuffle; the lang argmax
    window runs over the |sources|x|langs| grid."""
    from pyspark.sql import Window

    from .operators.dedup import _norm

    docs = _t(spark, sf, "documents")
    base = (
        docs.select(
            "source",
            "n_chars",
            F.size(F.split(_norm(F.col("text")), " ")).cast("long")
            .alias("n_tokens"),
            F.md5(_norm(F.col("text"))).alias("h"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.count_distinct(F.col("h")).alias("n_unique"),
        )
    )
    lw = Window.partitionBy("source").orderBy(
        F.desc("cnt"), F.asc("lang")
    )
    top_lang = (
        docs.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("r", F.row_number().over(lw))
        .filter(F.col("r") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    gw = Window.partitionBy("source").orderBy("n_chars").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gn = Window.partitionBy("source")
    med = (
        # NULL n_chars rows are not samples of the length distribution
        # (and a NULL grid row orders NULLS FIRST in Spark's cumulative
        # window vs NULLS LAST in DuckDB's — r8 NULL-injection audit).
        docs.filter(F.col("n_chars").isNotNull())
        .groupBy("source", "n_chars")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "source",
            "n_chars",
            F.sum("cnt").over(gw).alias("cum"),
            F.sum("cnt").over(gn).alias("n"),
        )
        .filter(F.col("cum") * 2 >= F.col("n"))
        .groupBy("source")
        .agg(F.min("n_chars").cast("long").alias("p50_chars"))
    )
    return (
        base.join(F.broadcast(top_lang), "source")
        .join(F.broadcast(med), "source")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "total_chars",
            "total_tokens",
            "top_lang",
            (F.col("n_docs") - F.col("n_unique")).cast("long")
            .alias("n_exact_dups"),
            ratio_round(
                F.col("n_docs") - F.col("n_unique"), F.col("n_docs"), 4
            ).alias("dup_rate"),
            ratio_round(F.col("total_chars"), F.col("n_docs"), 1)
            .alias("avg_chars"),
            "p50_chars",
        )
        .orderBy("source")
    )


_register(
    "dataset_datacard",
    f"""
    WITH base AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(SUM(len(string_split(
               {_DEDUP_NORM_SQL.format(col="text")}, ' '))) AS BIGINT)
               AS total_tokens,
             COUNT(DISTINCT md5({_DEDUP_NORM_SQL.format(col="text")}))
               AS n_unique
      FROM documents GROUP BY source
    ),
    lc AS (
      SELECT source, lang, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY COUNT(*) DESC, lang ASC) AS r
      FROM documents GROUP BY source, lang
    ),
    grid AS (
      SELECT source, n_chars, COUNT(*) AS cnt FROM documents
      WHERE n_chars IS NOT NULL GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, n_chars,
             SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(cnt) OVER (PARTITION BY source) AS n
      FROM grid
    ),
    med AS (
      SELECT source, CAST(MIN(n_chars) AS BIGINT) AS p50_chars
      FROM cum WHERE cum * 2 >= n GROUP BY source
    )
    SELECT b.source,
           CAST(b.n_docs AS BIGINT) AS n_docs,
           b.total_chars, b.total_tokens,
           lc.lang AS top_lang,
           CAST(b.n_docs - b.n_unique AS BIGINT) AS n_exact_dups,
           {ratio_round_sql("b.n_docs - b.n_unique", "b.n_docs", 4)}
             AS dup_rate,
           {ratio_round_sql("b.total_chars", "b.n_docs", 1)} AS avg_chars,
           med.p50_chars
    FROM base b
    JOIN lc ON lc.source = b.source AND lc.r = 1
    JOIN med ON med.source = b.source
    ORDER BY b.source
    """,
    doc="Per-source dataset card [ext/pipeline/governance]: counts, "
    "tokens, dominant language (tie-broken argmax), exact-dup rate via "
    "distinct md5, mean (ratio_round) and value-grid percentile_disc "
    "median length — one plan, every branch grid-sized before its "
    "shuffle.",
)(_dataset_datacard)


def _similarity_triplets(spark: SparkSession, sf: str) -> DataFrame:
    """Triplet mining for contrastive training — one row per anchor
    with its positive (most-similar SAME-label vector) and its hard
    negative (most-similar DIFFERENT-label vector): the (a, p, n)
    sampling step of triplet/InfoNCE losses, ranking the pairs of
    ``similarity.cosine_pairs`` (the scorer of ``brute_force_topk`` and
    ``hard_negatives``) split by label in ONE corpus pass.

    Exactness: ranking runs on the unrounded cosine with a vec_id
    tie-breaker (determinism rule 1); cosines round only at output
    (transcendental, off-grid, tie-safe). Anchors whose label class
    has no second member emit NULL positives on both engines.

    Scale shape: one broadcast-nested-loop pass over the corpus (the
    anchor side is filtered + broadcast, norms hoisted per row), ONE
    window partitioned by (anchor, same-label) over the scored pairs,
    then an anchor-sized pivot aggregate. The scale path swaps the
    corpus scan for IVF-bucketed candidates exactly as ``ivf_topk``
    does — the label split composes unchanged."""
    from pyspark.sql import Window

    scored = _sim.cosine_pairs(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 30
    ).withColumn(
        "same", (F.col("neighbor_label") == F.col("query_label")).cast("int")
    )
    w = Window.partitionBy("query_id", "same").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    top = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") == 1
    )
    pos = F.when(F.col("same") == 1, F.col("neighbor_id"))
    neg = F.when(F.col("same") == 0, F.col("neighbor_id"))
    return (
        top.groupBy("query_id", "query_label")
        .agg(
            F.max(pos).alias("pos_id"),
            F.round(F.max(F.when(F.col("same") == 1, F.col("cos"))), 4)
            .alias("pos_cos"),
            F.max(neg).alias("neg_id"),
            F.max(F.when(F.col("same") == 0, F.col("neighbor_label")))
            .cast("long")
            .alias("neg_label"),
            F.round(F.max(F.when(F.col("same") == 0, F.col("cos"))), 4)
            .alias("neg_cos"),
        )
        .select(
            "query_id",
            F.col("query_label").cast("long").alias("query_label"),
            "pos_id",
            "pos_cos",
            "neg_id",
            "neg_label",
            "neg_cos",
        )
        .orderBy("query_id")
    )


_register(
    "similarity_triplets",
    f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, label AS query_label, emb AS q_emb
          FROM e WHERE vec_id < 30),
    scored AS (
      SELECT q.query_id, q.query_label, e.vec_id AS nid, e.label AS nlabel,
             {_COS_SQL.format(a="q.q_emb", b="e.emb")} AS cos,
             CASE WHEN e.label = q.query_label THEN 1 ELSE 0 END AS same
      FROM e, q WHERE e.vec_id <> q.query_id
    ),
    r AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, same
                ORDER BY cos DESC, nid ASC) AS rnk
      FROM scored
    )
    SELECT query_id,
           CAST(query_label AS BIGINT) AS query_label,
           MAX(CASE WHEN same = 1 THEN nid END) AS pos_id,
           ROUND(MAX(CASE WHEN same = 1 THEN cos END), 4) AS pos_cos,
           MAX(CASE WHEN same = 0 THEN nid END) AS neg_id,
           CAST(MAX(CASE WHEN same = 0 THEN nlabel END) AS BIGINT)
             AS neg_label,
           ROUND(MAX(CASE WHEN same = 0 THEN cos END), 4) AS neg_cos
    FROM r WHERE rnk = 1
    GROUP BY query_id, query_label
    ORDER BY query_id
    """,
    doc="Triplet mining (anchor, positive, hard negative) for "
    "contrastive training [ext/similarity]: one corpus pass, one "
    "(anchor, same-label) window on unrounded cosine with vec_id "
    "ties, anchor-sized pivot; cosines rounded only at output.",
)(_similarity_triplets)


# Winnowing (Schleimer/Wilkerson/Aiken, MOSS) parameters: K-word grams,
# window of W consecutive gram hashes, guarantee: every W-window of
# grams contributes >=1 selected fingerprint.
_WIN_K = 4
_WIN_W = 5
#: position packing for the (hash, pos) min — md5 piece < 2^28, so
#: key = h*1e6 + pos is collision-free for docs under 1e6 grams.
_WIN_POS_PACK = 1_000_000


def _winnowed(grams: DataFrame) -> DataFrame:
    """Distinct (doc_id, key) winnowing selections of ``_doc_kgrams``
    rows: the minimum of key = md5-piece(gram)·_WIN_POS_PACK + pos over
    each window of _WIN_W consecutive grams."""
    from pyspark.sql import Window

    from .operators.dedup import md5_hash_pieces

    x1, _ = md5_hash_pieces(F.concat(F.lit("win:"), F.col("sh")))
    keyed = grams.select(
        "doc_id",
        "pos",
        (x1 * F.lit(_WIN_POS_PACK) + F.col("pos")).alias("key"),
    )
    w5 = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        -(_WIN_W - 1), Window.currentRow
    )
    return keyed.select("doc_id", F.min("key").over(w5).alias("key")).distinct()


def _text_winnowing_fingerprints(spark: SparkSession, sf: str) -> DataFrame:
    """Winnowing fingerprint selection (the MOSS algorithm) — the
    position-aware dedup fingerprinting scheme between "hash
    everything" (``text_fingerprints``) and MinHash: slide a window of
    W consecutive k-gram hashes and keep each window's minimum, giving
    a ~2/(W+1) density sample with the GUARANTEE that any shared
    substring of >= W+K-1 words yields a shared fingerprint.

    Exactness: the windowed min runs on key = h·1e6 + pos (exact
    integers, ties impossible since pos is unique), so selection is
    deterministic and identical cross-engine; density is a grid
    quotient -> ratio_round.

    Scale shape: per-DOC windows only (fine keys, no hot key — the
    idempotent-dedup idiom); gram hashes derive from one md5 per gram
    via the shared piece machinery; the distinct + count collapse to
    one row per doc before the join back to documents."""
    docs = _t(spark, sf, "documents")
    grams = _doc_kgrams(spark, docs, _WIN_K)
    sel = (
        _winnowed(grams)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_fp"))
    )
    ng = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kgrams"))
    return (
        docs.select("doc_id")
        .join(F.broadcast(ng), "doc_id", "left")
        .join(F.broadcast(sel), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_kgrams"), F.lit(0)).cast("long")
            .alias("n_kgrams"),
            F.coalesce(F.col("n_fp"), F.lit(0)).cast("long").alias("n_fp"),
            F.when(
                F.col("n_kgrams") > 0,
                ratio_round(F.col("n_fp"), F.col("n_kgrams"), 4),
            ).alias("fp_density"),
        )
        .orderBy("doc_id")
    )


_register(
    "text_winnowing_fingerprints",
    f"""
    WITH norm AS (SELECT doc_id, {_DEDUP_NORM_SQL.format(col="text")} AS t
                  FROM documents),
    g AS (
      SELECT doc_id, i AS pos,
             {" || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(_WIN_K))} AS sh
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - {_WIN_K - 1})) AS i
            FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
            WHERE len(w) >= {_WIN_K})
    ),
    keyed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5('win:' || sh), 1, 7))::BIGINT
               * {_WIN_POS_PACK} + pos AS key
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS key
      FROM keyed
    ),
    fp AS (SELECT doc_id, COUNT(*) AS n_fp FROM sel GROUP BY 1),
    ng AS (SELECT doc_id, COUNT(*) AS n_kgrams FROM g GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(ng.n_kgrams, 0) AS BIGINT) AS n_kgrams,
           CAST(COALESCE(fp.n_fp, 0) AS BIGINT) AS n_fp,
           CASE WHEN COALESCE(ng.n_kgrams, 0) > 0
                THEN {ratio_round_sql("fp.n_fp", "ng.n_kgrams", 4)}
           END AS fp_density
    FROM documents d
    LEFT JOIN ng ON ng.doc_id = d.doc_id
    LEFT JOIN fp ON fp.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="Winnowing/MOSS fingerprint selection [ext/text/dedup]: "
    "W-window minima over k-gram md5 keys packed with position (exact "
    "integer min, no ties), guarantee-dense ~2/(W+1) sample; per-doc "
    "windows only, density via ratio_round.",
)(_text_winnowing_fingerprints)


def _dedup_aware_sample_weights(spark: SparkSession, sf: str) -> DataFrame:
    """Duplicate-aware training weights — the curation step AFTER
    cluster dedup when you keep near-dups but downweight them (the
    'soft dedup' alternative to dropping: each document weighs
    1/|its duplicate cluster|, so every distinct content unit
    contributes total mass 1 to the training mix regardless of how
    many near-copies exist).

    Exactness: cluster labels come from the proven MinHash-LSH →
    connected-components composition; weights are grid quotients ->
    ratio_round; unclustered docs form singletons (cluster_id =
    doc_id, weight 1).

    Scale shape: the cluster table is near-dup-mass-sized and feeds
    two consumers (sizes + the doc join); it arrives checkpointed from
    duplicate_clusters (its last label round), so both read those
    blocks. The join back to documents is a broadcast at fixture scale
    and a key-shuffle at 100 TB — either way work ∝ corpus + dup mass."""
    pairs = _dedup_ops.minhash_lsh_pairs(_t(spark, sf, "documents"))
    clusters = _dedup_ops.duplicate_clusters(pairs)
    sizes = clusters.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("csize")
    )
    labeled = clusters.join(F.broadcast(sizes), "cluster_id")
    return (
        _t(spark, sf, "documents")
        .select("doc_id")
        .join(F.broadcast(labeled), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast("long")
            .alias("cluster_id"),
            F.coalesce(F.col("csize"), F.lit(1)).cast("long")
            .alias("cluster_size"),
            ratio_round(
                F.lit(1), F.coalesce(F.col("csize"), F.lit(1)), 4
            ).alias("weight"),
        )
        .orderBy("doc_id")
    )


_register(
    "dedup_aware_sample_weights",
    f"""
    WITH RECURSIVE {_MH_PIPELINE_CTES},
    {_cc_ctes("verified")},
    csz AS (SELECT cluster_id, COUNT(*) AS csize FROM labels GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(l.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
           CAST(COALESCE(s.csize, 1) AS BIGINT) AS cluster_size,
           {ratio_round_sql("1", "COALESCE(s.csize, 1)", 4)} AS weight
    FROM documents d
    LEFT JOIN labels l ON l.doc_id = d.doc_id
    LEFT JOIN csz s ON s.cluster_id = l.cluster_id
    ORDER BY d.doc_id
    """,
    doc="Duplicate-aware training weights [ext/dedup/sampling]: soft "
    "dedup — weight 1/|cluster| from the proven MinHash-LSH + "
    "connected-components composition, singletons weigh 1; cluster "
    "table checkpointed for its two consumers, weights via ratio_round.",
)(_dedup_aware_sample_weights)


#: (relation, child table, child key, parent table, parent key) — one
#: shared list drives both engines' referential-integrity audits.
_RI_RELATIONS = [
    ("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem_supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier_nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
]


def _referential_integrity_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Foreign-key orphan audit across the whole star schema — the
    cross-TABLE complement of the per-table ``data_quality_audit``:
    for each FK relation, child row/key counts, NULL keys, and the
    orphan mass (child keys with no parent). The pre-flight every
    warehouse load runs before trusting its joins.

    Exactness: pure integer counts; no rounding site.

    Scale shape: each child collapses map-side to its |keys|-row count
    table BEFORE the anti-join against the parent key set, so orphan
    detection shuffles key counts, not child rows; six relations
    union to six rows."""
    out = None
    for rel, child, ck, parent, pk in _RI_RELATIONS:
        # two consumers (stats row + orphan anti-join) -> checkpoint
        ckeys = (
            _t(spark, sf, child)
            .groupBy(F.col(ck).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .localCheckpoint(eager=False)
        )
        pkeys = _t(spark, sf, parent).select(F.col(pk).alias("k")).distinct()
        orphan = ckeys.filter(F.col("k").isNotNull()).join(
            pkeys, "k", "left_anti"
        )
        row = (
            ckeys.agg(
                F.sum("cnt").alias("child_rows"),
                F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0)).alias(
                    "child_keys"
                ),
                F.sum(
                    F.when(F.col("k").isNull(), F.col("cnt")).otherwise(0)
                ).alias("null_rows"),
            )
            .crossJoin(
                orphan.agg(
                    F.coalesce(F.sum("cnt"), F.lit(0)).alias("orphan_rows"),
                    F.count(F.lit(1)).alias("orphan_keys"),
                )
            )
            .select(
                F.lit(rel).alias("relation"),
                F.col("child_rows").cast("long").alias("child_rows"),
                F.col("child_keys").cast("long").alias("child_keys"),
                F.col("null_rows").cast("long").alias("null_rows"),
                F.col("orphan_rows").cast("long").alias("orphan_rows"),
                F.col("orphan_keys").cast("long").alias("orphan_keys"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("relation")


_RI_SQL = "\n    UNION ALL\n".join(
    f"""    SELECT '{rel}' AS relation,
           CAST((SELECT COUNT(*) FROM {child}) AS BIGINT) AS child_rows,
           CAST((SELECT COUNT(DISTINCT {ck}) FROM {child}) AS BIGINT)
             AS child_keys,
           CAST((SELECT COUNT(*) FROM {child} WHERE {ck} IS NULL) AS BIGINT)
             AS null_rows,
           CAST((SELECT COUNT(*) FROM {child} c
                 WHERE c.{ck} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pk} = c.{ck})) AS BIGINT)
             AS orphan_rows,
           CAST((SELECT COUNT(DISTINCT c.{ck}) FROM {child} c
                 WHERE c.{ck} IS NOT NULL
                   AND NOT EXISTS (SELECT 1 FROM {parent} p
                                   WHERE p.{pk} = c.{ck})) AS BIGINT)
             AS orphan_keys"""
    for rel, child, ck, parent, pk in _RI_RELATIONS
)

_register(
    "referential_integrity_audit",
    f"""
    SELECT * FROM (
{_RI_SQL}
    ) ORDER BY relation
    """,
    doc="Star-schema FK orphan audit [ext/integrity]: per relation, "
    "child rows/keys, NULL keys, orphan mass via key-count anti-join — "
    "shuffles key counts, never child rows; one shared relation list "
    "drives both engines.",
)(_referential_integrity_audit)


_PSI_BUCKETS = 8  # dim-0 quantization: floor(x*8), clamped


def _embedding_psi_drift(spark: SparkSession, sf: str) -> DataFrame:
    """Population-stability-index drift monitor over the embedding
    distribution — the standard ML-monitoring screen for "has the
    input distribution shifted since training": reference population =
    even vec_ids, current = odd (the fixture's stand-in for
    train-time vs serve-time), dimension-0 values quantized to a fixed
    integer grid, PSI = Σ (p_cur − p_ref)·ln(p_cur/p_ref) with add-1
    smoothing so empty buckets stay finite.

    Exactness: bucket ids are floor(float32·8) — exact IEEE ops on
    identical values; the smoothed shares and their ratio are built
    with the SAME left-associated double expression on both engines,
    ln parity is the established PMI/entropy precedent, and each
    bucket's term rounds to 1e-6 integer units BEFORE the sum (the
    chi2 idiom — a float Σ would reorder). term = 0 rounds to 0 on
    both engines; everything else is off-grid (transcendental factor).

    Scale shape: one scan, map-side combine to the ≤2·(2·clamp+2)-row
    (side, bucket) grid; all windows run over that grid."""
    from pyspark.sql import Window

    emb = _t(spark, sf, "embeddings")
    b = F.greatest(
        F.lit(-_PSI_BUCKETS),
        F.least(
            F.lit(_PSI_BUCKETS - 1),
            F.floor(F.element_at("embedding", 1).cast("double") * _PSI_BUCKETS),
        ),
    ).cast("long")
    side = (F.col("vec_id") % 2 == 0).cast("int")
    grid = (
        emb.select(b.alias("bucket"), side.alias("is_ref"))
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("is_ref") == 1, 1).otherwise(0)).alias("n_ref"),
            F.sum(F.when(F.col("is_ref") == 0, 1).otherwise(0)).alias("n_cur"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = grid.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.sum("n_ref").over(w).alias("t_ref"),
        F.sum("n_cur").over(w).alias("t_cur"),
        F.count(F.lit(1)).over(w).alias("nb"),
    )
    p_ref = (F.col("n_ref") + 1) / (F.col("t_ref") + F.col("nb"))
    p_cur = (F.col("n_cur") + 1) / (F.col("t_cur") + F.col("nb"))
    term_units = F.round((p_cur - p_ref) * F.log(p_cur / p_ref) * 1e6).cast(
        "long"
    )
    terms = tot.select(
        "bucket",
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        term_units.alias("term_units"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return terms.select(
        "bucket",
        "n_ref",
        "n_cur",
        "term_units",
        (F.sum("term_units").over(w_all).cast("double") / F.lit(1e6)).alias(
            "psi"
        ),
    ).orderBy("bucket")


_register(
    "embedding_psi_drift",
    f"""
    WITH e AS (
      SELECT vec_id,
             GREATEST(-{_PSI_BUCKETS}, LEAST({_PSI_BUCKETS - 1},
               CAST(floor(CAST(embedding[1] AS DOUBLE) * {_PSI_BUCKETS})
                    AS BIGINT))) AS bucket,
             CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_ref
      FROM embeddings
    ),
    grid AS (
      SELECT bucket,
             SUM(is_ref) AS n_ref,
             SUM(1 - is_ref) AS n_cur
      FROM e GROUP BY bucket
    ),
    tot AS (
      SELECT bucket, n_ref, n_cur,
             SUM(n_ref) OVER () AS t_ref,
             SUM(n_cur) OVER () AS t_cur,
             COUNT(*) OVER () AS nb
      FROM grid
    ),
    terms AS (
      SELECT bucket,
             CAST(n_ref AS BIGINT) AS n_ref,
             CAST(n_cur AS BIGINT) AS n_cur,
             CAST(ROUND((CAST(n_cur + 1 AS DOUBLE) / (t_cur + nb)
                         - CAST(n_ref + 1 AS DOUBLE) / (t_ref + nb))
                        * ln((CAST(n_cur + 1 AS DOUBLE) / (t_cur + nb))
                             / (CAST(n_ref + 1 AS DOUBLE) / (t_ref + nb)))
                        * 1e6) AS BIGINT) AS term_units
      FROM tot
    )
    SELECT bucket, n_ref, n_cur, term_units,
           CAST(SUM(term_units) OVER () AS DOUBLE) / 1e6 AS psi
    FROM terms
    ORDER BY bucket
    """,
    doc="PSI distribution-drift monitor over embedding dim 0 "
    "[ext/eval/monitoring]: even/odd-population shares with add-1 "
    "smoothing, identical left-associated double expressions, per-term "
    "1e-6-unit rounding before the exact integer sum (the chi2 idiom).",
)(_embedding_psi_drift)


_THEILSEN_DAYS = 90


def _trailing_days(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame]:
    """``(all_days, days)``: (d, y) daily order revenue in cents over
    epoch days, and its trailing ``_THEILSEN_DAYS``-day window. The
    fact table collapses map-side to the day grid, which is
    checkpointed (the window filter, its max-day probe and any caller
    reading ``all_days`` consume it)."""
    all_days = (
        _t(spark, sf, "orders")
        .groupBy(
            F.floor(F.unix_millis("o_orderdate") / F.lit(86400000))
            .cast("long")
            .alias("d")
        )
        .agg(cents(F.sum("o_totalprice")).alias("y"))
        .localCheckpoint(eager=False)
    )
    maxd = all_days.agg(F.max("d").alias("dm"))
    days = (
        all_days.crossJoin(F.broadcast(maxd))
        .filter(F.col("d") > F.col("dm") - _THEILSEN_DAYS)
        .select("d", "y")
    )
    return all_days, days


def _orders_theilsen_trend(spark: SparkSession, sf: str) -> DataFrame:
    """Theil–Sen robust trend of daily revenue over the trailing 90
    days — the median of all pairwise slopes: the breakdown-resistant
    alternative to the OLS slope (``orders_rolling_ols_slope``) that
    one corrupted day cannot drag (29% breakdown point vs OLS's zero).

    Exactness: every pairwise slope is an exact rational
    (Δcents / Δdays, Δdays > 0); the median selection orders by the
    IEEE double quotient (bit-identical cross-engine) with (num, den)
    tie-breakers, and the selected slope rounds via ratio_round —
    no float statistic is ever accumulated.

    Scale shape: the fact table collapses map-side to the day grid,
    the trailing-window filter caps it at 90 rows (checkpointed —
    both self-join sides + the max-day probe consume it), and the
    O(window²) ≈ 4k-pair table and its rank window are fixed-size
    whatever the corpus. The full-history variant would be O(d²)
    pairs through one sort partition — the window bound is what keeps
    the median selection constant-cost at 100 TB."""
    from pyspark.sql import Window

    _, days = _trailing_days(spark, sf)
    a = days.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    pairs = (
        a.join(b, F.col("da") < F.col("db"))
        .select(
            (F.col("yb") - F.col("ya")).alias("num"),
            (F.col("db") - F.col("da")).alias("den"),
        )
    )
    w = Window.orderBy(
        (F.col("num").cast("double") / F.col("den").cast("double")).asc(),
        F.asc("num"),
        F.asc("den"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = pairs.select(
        "num",
        "den",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n_pairs"),
    )
    return (
        ranked.filter(
            F.col("rn")
            == ((F.col("n_pairs") + 1) - (F.col("n_pairs") + 1) % 2) / 2
        )
        .select(
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.col("num").cast("long").alias("med_num_cents"),
            F.col("den").cast("long").alias("med_den_days"),
            ratio_round(F.col("num"), F.col("den"), 4).alias(
                "slope_cents_per_day"
            ),
        )
    )


_register(
    "orders_theilsen_trend",
    f"""
    WITH all_days AS (
      SELECT epoch_ms(o_orderdate) // 86400000 AS d,
             {cents_sql("SUM(o_totalprice)")} AS y
      FROM orders GROUP BY 1
    ),
    days AS (
      SELECT d, y FROM all_days
      WHERE d > (SELECT MAX(d) FROM all_days) - {_THEILSEN_DAYS}
    ),
    pairs AS (
      SELECT b.y - a.y AS num, b.d - a.d AS den
      FROM days a JOIN days b ON a.d < b.d
    ),
    ranked AS (
      SELECT num, den,
             ROW_NUMBER() OVER (ORDER BY
               CAST(num AS DOUBLE) / CAST(den AS DOUBLE) ASC,
               num ASC, den ASC) AS rn,
             COUNT(*) OVER () AS n_pairs
      FROM pairs
    )
    SELECT CAST(n_pairs AS BIGINT) AS n_pairs,
           CAST(num AS BIGINT) AS med_num_cents,
           CAST(den AS BIGINT) AS med_den_days,
           {ratio_round_sql("num", "den", 4)} AS slope_cents_per_day
    FROM ranked
    WHERE rn = ((n_pairs + 1) - (n_pairs + 1) % 2) // 2
    """,
    doc="Theil-Sen robust daily-revenue trend, trailing 90 days "
    "[ext/timeseries/robust]: median of all pairwise day-grid slopes - "
    "exact rational slopes, double-quotient ordering with (num, den) "
    "ties, ratio_round output; fact collapses to the day grid and the "
    "window bound keeps the pair table fixed-size.",
)(_orders_theilsen_trend)


_WINSOR_LO = 5   # percent
_WINSOR_HI = 95


def _orders_winsorized_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Winsorized revenue statistics — outlier-robust moments by
    CLAMPING to exact order statistics (the keep-the-rows alternative
    to ``orders_trimmed_mean_scalable``'s dropping): cut values are the
    exact ceil(p·n)-th order statistics found by the two-pass bucket
    algorithm, every order's cents clamp into [c05, c95], and the
    winsorized mean is a grid quotient.

    Exactness: order statistics and clamped sums are pure integers;
    the mean goes through ratio_round. Ranks k = ceil(p·n/100) =
    (p·n + 99) div 100 in exact integer space.

    Scale shape: pass 1 map-side combines to the 10k-cent bucket
    histogram; the cumulative window runs over BUCKETS; pass 2 scans
    only the (≤2) bucket(s) holding the cut ranks and ranks within
    them; the final clamp + aggregate is one more map-side-combined
    scan. No global sort anywhere."""
    from pyspark.sql import Window as _W

    cents_col = F.round(F.col("o_totalprice") * 100).cast("long")
    # NULL totals excluded from the distribution (nullable-rank rule;
    # r8 TPC-H degenerate probe)
    orders = (
        _t(spark, sf, "orders")
        .select(cents_col.alias("c"))
        .filter(F.col("c").isNotNull())
    )
    hist = orders.groupBy((F.col("c") - F.col("c") % _OS_BUCKET).alias("b")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = _W.orderBy("b").rowsBetween(_W.unboundedPreceding, _W.currentRow)
    wall = _W.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
    cum = hist.select(
        "b",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(wall).alias("n"),
    )
    ranks = spark.range(1).select(
        F.explode(
            F.array(F.lit(_WINSOR_LO), F.lit(_WINSOR_HI))
        ).alias("p")
    )
    keyed = cum.crossJoin(F.broadcast(ranks)).withColumn(
        "k",
        ((F.col("p") * F.col("n") + 99) - (F.col("p") * F.col("n") + 99) % 100)
        / 100,
    )
    target = (
        keyed.filter(F.col("cum") >= F.col("k"))
        .groupBy("p")
        .agg(
            F.min_by(F.struct("b", "cum", "cnt", "k", "n"), F.col("b")).alias(
                "t"
            )
        )
        .select(
            "p",
            F.col("t.b").alias("b"),
            (F.col("t.k") - (F.col("t.cum") - F.col("t.cnt"))).alias("r"),
            F.col("t.n").alias("n"),
        )
    )
    in_bucket = orders.join(
        F.broadcast(target), orders["c"] - orders["c"] % _OS_BUCKET == F.col("b")
    )
    wr = _W.partitionBy("p").orderBy("c")
    cuts = (
        in_bucket.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == F.col("r"))
        .groupBy()
        .agg(
            F.max(F.when(F.col("p") == _WINSOR_LO, F.col("c"))).alias("lo_c"),
            F.max(F.when(F.col("p") == _WINSOR_HI, F.col("c"))).alias("hi_c"),
            F.max("n").alias("n"),
        )
    )
    clamped = orders.crossJoin(F.broadcast(cuts)).select(
        F.greatest(F.col("lo_c"), F.least(F.col("hi_c"), F.col("c"))).alias(
            "cc"
        ),
        "lo_c",
        "hi_c",
        "n",
    )
    return clamped.groupBy("lo_c", "hi_c", "n").agg(
        F.sum(F.when(F.col("cc") == F.col("lo_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_at_floor"),
        F.sum(F.when(F.col("cc") == F.col("hi_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_at_cap"),
        ratio_round(F.sum("cc"), F.col("n") * F.lit(100), 4).alias(
            "winsorized_mean"
        ),
    ).select(
        F.col("n").cast("long").alias("n_orders"),
        F.col("lo_c").cast("long").alias("lo_cents"),
        F.col("hi_c").cast("long").alias("hi_cents"),
        "n_at_floor",
        "n_at_cap",
        "winsorized_mean",
    )


_register(
    "orders_winsorized_stats",
    f"""
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
               FROM orders WHERE o_totalprice IS NOT NULL),
    n AS (SELECT COUNT(*) AS n FROM c),
    cuts AS (
      SELECT
        (SELECT c FROM c ORDER BY c
         LIMIT 1 OFFSET (SELECT ({_WINSOR_LO} * n + 99) // 100 - 1 FROM n))
          AS lo_c,
        (SELECT c FROM c ORDER BY c
         LIMIT 1 OFFSET (SELECT ({_WINSOR_HI} * n + 99) // 100 - 1 FROM n))
          AS hi_c
    ),
    clamped AS (
      SELECT GREATEST(cuts.lo_c, LEAST(cuts.hi_c, c.c)) AS cc,
             cuts.lo_c, cuts.hi_c
      FROM c, cuts
    )
    SELECT CAST((SELECT n FROM n) AS BIGINT) AS n_orders,
           CAST(lo_c AS BIGINT) AS lo_cents,
           CAST(hi_c AS BIGINT) AS hi_cents,
           CAST(SUM(CASE WHEN cc = lo_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_at_floor,
           CAST(SUM(CASE WHEN cc = hi_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_at_cap,
           {ratio_round_sql("SUM(cc)", "(SELECT n FROM n) * 100", 4)}
             AS winsorized_mean
    FROM clamped GROUP BY lo_c, hi_c
    """,
    doc="Winsorized revenue stats [ext/robust]: exact ceil(p*n) order "
    "statistics via the two-pass bucket algorithm (no global sort), "
    "clamp to [p05, p95], winsorized mean via ratio_round; floor/cap "
    "mass reported.",
)(_orders_winsorized_stats)


#: Jaccard threshold sweep grid in 1e-4 units (>= the 0.6 base pair
#: threshold — counts below the base would be candidate-incomplete).
_SWEEP_TUS = [6000, 7000, 8000, 9000, 9500]


def _dedup_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Dedup-threshold calibration curve — the tuning readout before
    committing a near-dup cutoff: pair and affected-document counts at
    each candidate threshold, all derived from ONE exact-Jaccard pair
    table (the proven PPJoin plan at the 0.6 base), so the whole sweep
    costs one dedup pass instead of five.

    Exactness: comparisons run on the shared 1e-4-grid rounded jaccard
    against unit-scaled thresholds — identical doubles on both
    engines. Sweep thresholds must be >= the base (below it the pair
    table is candidate-incomplete by construction; documented).

    Scale shape: the pair table is near-dup-mass-sized and feeds the
    x5 threshold fan (a broadcast of 5 literals), then two grid-sized
    aggregates; checkpointed for its two consumers."""
    pairs = _dedup_ops.ngram_jaccard_pairs(
        _t(spark, sf, "documents"), 3, 0.6
    ).localCheckpoint(eager=False)
    thr = spark.range(1).select(
        F.explode(F.array(*[F.lit(t) for t in _SWEEP_TUS])).alias("tu")
    )
    hits = pairs.crossJoin(F.broadcast(thr)).filter(
        F.col("jaccard") >= F.col("tu").cast("double") / 10000.0
    )
    n_pairs = hits.groupBy("tu").agg(F.count(F.lit(1)).alias("n_pairs"))
    n_docs = (
        hits.select(
            "tu", F.explode(F.array("doc_a", "doc_b")).alias("d")
        )
        .distinct()
        .groupBy("tu")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        thr.join(F.broadcast(n_pairs), "tu", "left")
        .join(F.broadcast(n_docs), "tu", "left")
        .select(
            (F.col("tu").cast("double") / 10000.0).alias("threshold"),
            F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long")
            .alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0)).cast("long")
            .alias("n_docs"),
        )
        .orderBy("threshold")
    )


_register(
    "dedup_threshold_sweep",
    f"""
    WITH pj AS ({_NGRAM_PAIRS_SQL}),
    thr AS (SELECT unnest([{", ".join(map(str, _SWEEP_TUS))}]) AS tu),
    hits AS (
      SELECT thr.tu, pj.doc_a, pj.doc_b
      FROM pj, thr WHERE pj.jaccard >= CAST(thr.tu AS DOUBLE) / 10000.0
    ),
    np AS (SELECT tu, COUNT(*) AS n_pairs FROM hits GROUP BY 1),
    nd AS (
      SELECT tu, COUNT(*) AS n_docs FROM (
        SELECT DISTINCT tu, d FROM (
          SELECT tu, doc_a AS d FROM hits
          UNION ALL SELECT tu, doc_b FROM hits
        )
      ) GROUP BY 1
    )
    SELECT CAST(thr.tu AS DOUBLE) / 10000.0 AS threshold,
           CAST(COALESCE(np.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(COALESCE(nd.n_docs, 0) AS BIGINT) AS n_docs
    FROM thr
    LEFT JOIN np ON np.tu = thr.tu
    LEFT JOIN nd ON nd.tu = thr.tu
    ORDER BY threshold
    """,
    doc="Dedup-threshold calibration sweep [ext/dedup/ops]: pair and "
    "affected-doc counts at 5 thresholds from ONE exact PPJoin pair "
    "table (grid-rounded jaccard vs unit thresholds — identical "
    "doubles); valid for thresholds >= the 0.6 base.",
)(_dedup_threshold_sweep)


_MMR_LAMBDA = 0.7
#: lambda as the exact fraction 7/10: scores compute in integer 1e-5
#: units (7*u_rel - 3*u_div over 1e-4-unit cosines) — 0.7*a - 0.3*b of
#: grid doubles lands exactly on the 1e-5 half-grid and ROUND(double)
#: tie-breaks diverge cross-engine (the grid-arithmetic rule; caught by
#: the sf0.1 sweep in r6).
_MMR_LAM_NUM = 7
_MMR_LAM_DEN = 10
_MMR_K = 5
_MMR_CAND = 10


def _retrieval_mmr_rerank(spark: SparkSession, sf: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking — the diversity pass
    production retrieval runs on top of a similarity top-k (Carbonell &
    Goldstein): greedily pick argmax λ·cos(q,d) − (1−λ)·max_{s∈S}
    cos(d,s), so near-duplicate candidates cannot crowd the result
    list. 5 picks from the exact-cosine top-10 per query.

    Exactness: both cosine families round to the shared 1e-4 grid
    FIRST (bit-identical doubles cross-engine) and convert to exact
    integer units; the MMR score is the pure-integer
    7*u_rel - 3*u_div (1e-5 units) — no float ever enters the
    ranking — and every argmax carries a neighbor_id tie-breaker. The
    output score rounds from units via ratio-style half-away division.
    The greedy rounds are unrolled — 4 joins over query-sized tables —
    and the oracle mirrors them CTE for CTE.

    Scale shape: candidate generation is the proven ``brute_force_
    topk`` plan (IVF slots in at scale); everything after is
    |queries|·k-sized: the candidate-candidate cosine table is built
    by joining WITHIN the top-10 lists (100 rows/query), and each
    greedy round is a join + window over those rows. Candidates and
    cc-pairs are checkpointed (every round consumes them)."""
    from pyspark.sql import Window

    from .operators.similarity import brute_force_topk, cosine

    emb = _t(spark, sf, "embeddings")
    cand = (
        brute_force_topk(emb, F.col("vec_id") < 10, k=_MMR_CAND)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cosine") * 10000).cast("long").alias("u_rel"),
            "rnk",
        )
        .localCheckpoint(eager=False)
    )
    ce = emb.select("vec_id", "embedding")
    ca = cand.select("query_id", F.col("neighbor_id").alias("a"))
    cb = cand.select("query_id", F.col("neighbor_id").alias("b"))
    cc = (
        ca.join(cb, "query_id")
        .filter(F.col("a") != F.col("b"))
        .join(ce.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea")), "a")
        .join(ce.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb")), "b")
        .select(
            "query_id",
            "a",
            "b",
            F.round(F.round(cosine(F.col("ea"), F.col("eb")), 4) * 10000)
            .cast("long")
            .alias("u_div"),
        )
        .localCheckpoint(eager=False)
    )
    # pick 1 maximizes pure relevance (empty diversity set) but its
    # reported score stays on the lambda scale so scores are comparable
    # across picks: score_units = 7*u_rel (the 0.3-term is 0).
    sel = cand.filter(F.col("rnk") == 1).select(
        "query_id",
        "neighbor_id",
        F.lit(1).alias("pick"),
        (F.col("u_rel") * F.lit(_MMR_LAM_NUM)).alias("score_units"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_units"), F.asc("neighbor_id")
    )
    for r in range(2, _MMR_K + 1):
        chosen = sel.select(
            F.col("query_id").alias("cq"), F.col("neighbor_id").alias("s")
        )
        maxsim = (
            cc.join(
                chosen,
                (F.col("query_id") == F.col("cq")) & (F.col("b") == F.col("s")),
            )
            .groupBy("query_id", "a")
            .agg(F.max("u_div").alias("ms"))
            .select(
                F.col("query_id").alias("mq"),
                F.col("a").alias("ma"),
                "ms",
            )
        )
        taken = sel.select(
            F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
        )
        scores = (
            cand.join(
                taken,
                (cand["query_id"] == taken["tq"])
                & (cand["neighbor_id"] == taken["tn"]),
                "left_anti",
            )
            .join(
                maxsim,
                (F.col("query_id") == F.col("mq"))
                & (F.col("neighbor_id") == F.col("ma")),
            )
            .select(
                "query_id",
                "neighbor_id",
                (
                    F.col("u_rel") * F.lit(_MMR_LAM_NUM)
                    - F.col("ms") * F.lit(_MMR_LAM_DEN - _MMR_LAM_NUM)
                ).alias("score_units"),
            )
        )
        pick = (
            scores.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "query_id",
                "neighbor_id",
                F.lit(r).alias("pick"),
                "score_units",
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    half_grid = 10000 * _MMR_LAM_DEN
    return sel.select(
        "query_id",
        F.col("pick").cast("long").alias("pick"),
        "neighbor_id",
        F.col("score_units").cast("long").alias("score_units"),
        ratio_round(
            F.col("score_units"), F.lit(half_grid), 4
        ).alias("mmr_score"),
    ).orderBy("query_id", "pick")


def _mmr_round_sql(r: int) -> str:
    """One unrolled MMR greedy round as CTEs (``sel{r}`` from
    ``sel{r-1}``) — mirrors the Spark loop body expression for
    expression, in exact integer score units."""
    a, b = _MMR_LAM_NUM, _MMR_LAM_DEN - _MMR_LAM_NUM
    return f"""
    ms{r} AS (
      SELECT cc.query_id, cc.a, MAX(cc.u_div) AS ms
      FROM cc JOIN sel{r - 1} s ON s.query_id = cc.query_id
                               AND s.neighbor_id = cc.b
      GROUP BY 1, 2
    ),
    sc{r} AS (
      SELECT c.query_id, c.neighbor_id,
             c.u_rel * {a} - m.ms * {b} AS score_units,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
               ORDER BY c.u_rel * {a} - m.ms * {b} DESC,
                        c.neighbor_id) AS rn
      FROM cand c
      JOIN ms{r} m ON m.query_id = c.query_id AND m.a = c.neighbor_id
      WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} s
                        WHERE s.query_id = c.query_id
                          AND s.neighbor_id = c.neighbor_id)
    ),
    sel{r} AS (
      SELECT query_id, neighbor_id, pick, score_units FROM sel{r - 1}
      UNION ALL
      SELECT query_id, neighbor_id, {r} AS pick, score_units
      FROM sc{r} WHERE rn = 1
    )"""


_register(
    "retrieval_mmr_rerank",
    f"""
    WITH {_cos_topk_sql(10, _MMR_CAND, "topk")},
    cand AS (
      SELECT t.query_id, t.neighbor_id, t.rnk,
             CAST(ROUND(ROUND({_COS_SQL.format(a="cq2.q_emb", b="ce2.emb")}, 4)
                        * 10000) AS BIGINT) AS u_rel
      FROM topk t
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS q_emb
            FROM embeddings) cq2 ON cq2.vec_id = t.query_id
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings) ce2 ON ce2.vec_id = t.neighbor_id
    ),
    cc AS (
      SELECT ca.query_id, ca.neighbor_id AS a, cb.neighbor_id AS b,
             CAST(ROUND(ROUND({_COS_SQL.format(a="ea.emb", b="eb.emb")}, 4)
                        * 10000) AS BIGINT) AS u_div
      FROM cand ca
      JOIN cand cb ON cb.query_id = ca.query_id
                  AND cb.neighbor_id <> ca.neighbor_id
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings) ea ON ea.vec_id = ca.neighbor_id
      JOIN (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
            FROM embeddings) eb ON eb.vec_id = cb.neighbor_id
    ),
    sel1 AS (
      SELECT query_id, neighbor_id, 1 AS pick,
             u_rel * {_MMR_LAM_NUM} AS score_units
      FROM cand WHERE rnk = 1
    ),{",".join(_mmr_round_sql(r) for r in range(2, _MMR_K + 1))}
    SELECT query_id, CAST(pick AS BIGINT) AS pick, neighbor_id,
           CAST(score_units AS BIGINT) AS score_units,
           {ratio_round_sql("score_units", "100000", 4)} AS mmr_score
    FROM sel{_MMR_K}
    ORDER BY query_id, pick
    """,
    doc="MMR diversity re-ranking over the exact top-10 [ext/similarity/"
    "retrieval]: greedy 7*u_rel - 3*u_div picks in exact integer 1e-5 "
    "units (no float in the ranking), unrolled rounds mirrored CTE for "
    "CTE, query-sized tables throughout.",
)(_retrieval_mmr_rerank)


def _langid_kappa(spark: SparkSession, sf: str) -> DataFrame:
    """Cohen's kappa of the heuristic language identifier against the
    fixture's ground-truth labels — the chance-corrected agreement
    summary on top of ``lang_confusion_matrix`` (accuracy alone
    overstates a classifier on skewed label mixes; kappa subtracts the
    agreement a label-marginal-matching random guesser would get).

    Exactness: po = trace/N, pe = Σ rowᵢ·colᵢ/N², and kappa =
    (N·trace − Σ rᵢcᵢ) / (N² − Σ rᵢcᵢ) are each computed as ONE exact
    integer ratio via ratio_round (never a float of floats); pe = 1
    (degenerate single-class) yields NULL, not a 0-division.

    Scale shape: one corpus scan partial-aggregates to the
    |langs|×|preds| confusion grid (checkpointed — marginals and the
    trace row all consume it); everything after is grid-sized."""
    from .operators.dedup import _norm
    from .operators.text import _lang_pred

    docs = _t(spark, sf, "documents")
    t = F.concat(F.lit(" "), _norm(F.col("text")), F.lit(" "))
    conf = (
        docs.select(
            F.col("lang").alias("truth"), _lang_pred(t).alias("pred")
        )
        .groupBy("truth", "pred")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)
    )
    base = conf.agg(
        F.sum("cnt").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("truth") == F.col("pred"), F.col("cnt"))),
            F.lit(0),
        ).alias("trace"),
    )
    rows = conf.groupBy("truth").agg(F.sum("cnt").alias("rn"))
    cols = conf.groupBy("pred").agg(F.sum("cnt").alias("cn"))
    rc = rows.join(cols, rows["truth"] == cols["pred"]).agg(
        F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0)).alias(
            "sum_rc"
        )
    )
    out = base.crossJoin(F.broadcast(rc))
    return out.select(
        F.col("n").cast("long").alias("n_docs"),
        F.col("trace").cast("long").alias("n_agree"),
        ratio_round(F.col("trace"), F.col("n"), 4).alias("po"),
        ratio_round(F.col("sum_rc"), F.col("n") * F.col("n"), 4).alias(
            "pe"
        ),
        F.when(
            F.col("n") * F.col("n") != F.col("sum_rc"),
            ratio_round(
                F.col("n") * F.col("trace") - F.col("sum_rc"),
                F.col("n") * F.col("n") - F.col("sum_rc"),
                4,
            ),
        ).alias("kappa"),
    )


_register(
    "langid_kappa",
    f"""
    WITH {_LANG_S_CTE},
    conf AS (
      SELECT lang AS truth, {_LANG_CASE} AS pred, COUNT(*) AS cnt
      FROM s GROUP BY 1, 2
    ),
    rows_ AS (SELECT truth, SUM(cnt) AS rn FROM conf GROUP BY 1),
    cols_ AS (SELECT pred, SUM(cnt) AS cn FROM conf GROUP BY 1),
    base AS (
      SELECT (SELECT SUM(cnt) FROM conf) AS n,
             (SELECT COALESCE(SUM(cnt), 0) FROM conf WHERE truth = pred)
               AS trace,
             (SELECT COALESCE(SUM(rn * cn), 0)
              FROM rows_ JOIN cols_ ON cols_.pred = rows_.truth) AS sum_rc
    )
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(trace AS BIGINT) AS n_agree,
           {ratio_round_sql("trace", "n", 4)} AS po,
           {ratio_round_sql("sum_rc", "n * n", 4)} AS pe,
           CASE WHEN n * n <> sum_rc
                THEN {ratio_round_sql("n * trace - sum_rc", "n * n - sum_rc", 4)}
           END AS kappa
    FROM base
    """,
    doc="Cohen's kappa of heuristic lang-id vs ground truth "
    "[ext/eval]: chance-corrected agreement as ONE exact integer ratio "
    "(N*trace - Sum r_i*c_i over N^2 - Sum r_i*c_i) via ratio_round; "
    "confusion grid from one partial-aggregated scan, checkpointed for "
    "its three consumers; pe=1 guard.",
)(_langid_kappa)


_SD_HALF = 12  # centered moving-average half-width (25-hour window)


def _events_seasonal_decompose(spark: SparkSession, sf: str) -> DataFrame:
    """Additive seasonal decomposition of the hourly event series —
    the STL-lite split every monitoring stack runs before alerting
    (cnt = trend + seasonal + residual): trend = centered 25-hour
    moving average, seasonal = hour-of-day mean of the detrended
    series, residual = remainder. Emitted only for hours with a FULL
    centered window (edges have no defined trend).

    Exactness: every component is carried as exact integer numerators
    over known denominators — detrended_units = 25·cnt − Σwindow
    (integer), seasonal = Σ detrended_units / (25·n_h), residual =
    (detrended_units·n_h − Σ_h detrended_units) / (25·n_h) — and each
    rounds via ratio_round. No float accumulates anywhere.

    Scale shape: the fact table collapses map-side to the ≤720-row
    hour grid; the centered-MA window, the hour-of-day means and the
    final join all run over that grid (the MA table is checkpointed —
    the seasonal table and the final join both consume it; the hourly
    table has one reader, the MA window)."""
    from pyspark.sql import Window

    hr = (
        _t(spark, sf, "events")
        .groupBy(
            (F.unix_millis(F.date_trunc("hour", F.col("ts"))) / 3600000)
            .cast("long")
            .alias("h")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    win = 2 * _SD_HALF + 1
    wma = Window.orderBy("h").rowsBetween(-_SD_HALF, _SD_HALF)
    ma = (
        hr.select(
            "h",
            "cnt",
            F.sum("cnt").over(wma).alias("wsum"),
            F.count(F.lit(1)).over(wma).alias("wn"),
        )
        .filter(F.col("wn") == win)
        .select(
            "h",
            "cnt",
            "wsum",
            (F.col("cnt") * win - F.col("wsum")).alias("du"),
            (F.col("h") % 24).alias("hod"),
        )
        .localCheckpoint(eager=False)
    )
    seas = ma.groupBy("hod").agg(
        F.sum("du").alias("s_sum"), F.count(F.lit(1)).alias("n_h")
    )
    return (
        ma.join(F.broadcast(seas), "hod")
        .select(
            "h",
            F.col("cnt").cast("long").alias("n_events"),
            ratio_round(F.col("wsum"), F.lit(win), 4).alias("trend"),
            ratio_round(
                F.col("s_sum"), F.col("n_h") * F.lit(win), 4
            ).alias("seasonal"),
            ratio_round(
                F.col("du") * F.col("n_h") - F.col("s_sum"),
                F.col("n_h") * F.lit(win),
                4,
            ).alias("residual"),
        )
        .orderBy("h")
    )


_register(
    "events_seasonal_decompose",
    f"""
    WITH hr AS (
      SELECT epoch_ms(date_trunc('hour', ts)) // 3600000 AS h,
             COUNT(*) AS cnt
      FROM events GROUP BY 1
    ),
    ma AS (
      SELECT h, cnt,
             SUM(cnt) OVER w AS wsum,
             COUNT(*) OVER w AS wn
      FROM hr
      WINDOW w AS (ORDER BY h ROWS BETWEEN {_SD_HALF} PRECEDING
                   AND {_SD_HALF} FOLLOWING)
    ),
    full_ AS (
      SELECT h, cnt, wsum,
             cnt * {2 * _SD_HALF + 1} - wsum AS du,
             h % 24 AS hod
      FROM ma WHERE wn = {2 * _SD_HALF + 1}
    ),
    seas AS (
      SELECT hod, SUM(du) AS s_sum, COUNT(*) AS n_h
      FROM full_ GROUP BY 1
    )
    SELECT f.h,
           CAST(f.cnt AS BIGINT) AS n_events,
           {ratio_round_sql("f.wsum", str(2 * _SD_HALF + 1), 4)} AS trend,
           {ratio_round_sql("s.s_sum", f"s.n_h * {2 * _SD_HALF + 1}", 4)}
             AS seasonal,
           {ratio_round_sql("f.du * s.n_h - s.s_sum",
                            f"s.n_h * {2 * _SD_HALF + 1}", 4)} AS residual
    FROM full_ f JOIN seas s USING (hod)
    ORDER BY f.h
    """,
    doc="Additive STL-lite decomposition of hourly events "
    "[ext/timeseries]: centered 25-hour MA trend, hour-of-day "
    "seasonal, residual — all exact integer numerators over known "
    "denominators via ratio_round; hour-grid windows only.",
)(_events_seasonal_decompose)


def _winnowing_recall_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Fingerprint-recall audit: do the winnowing fingerprints actually
    catch the corpus's exact near-duplicate pairs? For every verified
    Jaccard>=0.6 pair, count shared SELECTED fingerprint hashes; report
    per-pair detail plus the MOSS-guarantee read: a pair sharing a long
    verbatim run (>= W+K-1 words) must share >=1 fingerprint.

    Exactness: fingerprints are the deterministic winnowing keys
    (hash portion only — position-independent matching); counts are
    integers; composition of two independently-oracled stages.

    Scale shape: fingerprint sets are ~2/(W+1)-dense per doc and join
    on (hash) only for the near-dup-mass-sized pair list via two
    semi-structured joins — never all-pairs over fingerprints."""
    docs = _t(spark, sf, "documents")
    fps = (
        _winnowed(_doc_kgrams(spark, docs, _WIN_K))
        .select(
            "doc_id",
            (F.col("key") - F.col("key") % _WIN_POS_PACK)
            .alias("hkey"),
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    pairs = _dedup_ops.ngram_jaccard_pairs(
        docs, 3, 0.6
    ).localCheckpoint(eager=False)
    fa = fps.select(F.col("doc_id").alias("doc_a"), "hkey")
    fb = fps.select(F.col("doc_id").alias("doc_b"), "hkey")
    shared = (
        pairs.join(fa, "doc_a")
        .join(fb, ["doc_b", "hkey"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_fp"))
    )
    return (
        pairs.join(shared, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.coalesce(F.col("shared_fp"), F.lit(0)).cast("long")
            .alias("shared_fp"),
        )
        .orderBy("doc_a", "doc_b")
    )


_register(
    "winnowing_recall_audit",
    f"""
    WITH pj AS ({_NGRAM_PAIRS_SQL}),
    norm AS (SELECT doc_id, {_DEDUP_NORM_SQL.format(col="text")} AS t
             FROM documents),
    g AS (
      SELECT doc_id, i AS pos,
             {" || ' ' || ".join(f"w[i+{j}]" if j else "w[i]" for j in range(_WIN_K))} AS sh
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - {_WIN_K - 1})) AS i
            FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
            WHERE len(w) >= {_WIN_K})
    ),
    keyed AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5('win:' || sh), 1, 7))::BIGINT
               * {_WIN_POS_PACK} + pos AS key
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN {_WIN_W - 1} PRECEDING AND CURRENT ROW) AS key
      FROM keyed
    ),
    fps AS (
      SELECT DISTINCT doc_id, key - key % {_WIN_POS_PACK} AS hkey FROM sel
    ),
    shared AS (
      SELECT pj.doc_a, pj.doc_b, COUNT(*) AS shared_fp
      FROM pj
      JOIN fps fa ON fa.doc_id = pj.doc_a
      JOIN fps fb ON fb.doc_id = pj.doc_b AND fb.hkey = fa.hkey
      GROUP BY 1, 2
    )
    SELECT pj.doc_a, pj.doc_b, pj.jaccard,
           CAST(COALESCE(s.shared_fp, 0) AS BIGINT) AS shared_fp
    FROM pj
    LEFT JOIN shared s ON s.doc_a = pj.doc_a AND s.doc_b = pj.doc_b
    ORDER BY pj.doc_a, pj.doc_b
    """,
    doc="Winnowing fingerprint recall audit [ext/dedup/ops]: shared "
    "selected-fingerprint counts for every exact Jaccard>=0.6 pair — "
    "the empirical read on the MOSS guarantee; hash-keyed joins over "
    "~2/(W+1)-dense fingerprint sets, both stages independently "
    "oracled.",
)(_winnowing_recall_audit)


def _events_value_auc(spark: SparkSession, sf: str) -> DataFrame:
    """Exact ROC-AUC of `value` as a one-vs-rest score for each event
    type — the Mann-Whitney rank-sum form with full tie handling
    (AUC = P(s_pos > s_neg) + ½·P(s_pos = s_neg)), the standard eval
    for a scalar quality score used as a classifier.

    Exactness: values lie on the cents grid, so ranks come from exact
    integer counts over the distinct-value grid; twice-the-rank-sum
    2·R1 = Σ p·(2c + m + 1) stays integral (tie groups average to
    half-integers), and AUC = (2R1 − n1(n1+1)) / (2·n1·n0) rounds via
    ratio_round. Degenerate classes (n1 = 0 or n1 = N) emit NULL.

    Scale shape: one scan collapses map-side to the (value, type) and
    value grids (bounded by the cents value domain, not the corpus);
    the rank prefix-sum window runs over that bounded grid — the
    equi-depth-histogram idiom — and the per-type roll-up joins
    grid-sized tables."""
    from pyspark.sql import Window

    ev = (
        _t(spark, sf, "events")
        # NULL measurements are excluded from the distribution on BOTH
        # engines: a NULL grid row orders NULLS FIRST in Spark's window
        # vs NULLS LAST in DuckDB's (r8 NULL-injection audit).
        .filter(F.col("value").isNotNull())
        .select(cents(F.col("value")).alias("s"), "event_type")
    )
    gs = (
        ev.groupBy("s")
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=False)  # two consumers: grid window + N
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    grid = gs.select(
        "s", "m", (F.sum("m").over(w) - F.col("m")).alias("c")
    )
    gst = ev.groupBy("s", "event_type").agg(F.count(F.lit(1)).alias("p"))
    per_t = (
        gst.join(F.broadcast(grid), "s")
        .groupBy("event_type")
        .agg(
            F.sum("p").alias("n_pos"),
            F.sum(
                F.col("p") * (2 * F.col("c") + F.col("m") + 1)
            ).alias("r2"),
        )
    )
    nrow = gs.agg(F.sum("m").alias("n_total"))
    return (
        per_t.crossJoin(F.broadcast(nrow))
        .select(
            "event_type",
            F.col("n_pos").cast("long").alias("n_pos"),
            F.when(
                (F.col("n_pos") > 0) & (F.col("n_total") > F.col("n_pos")),
                ratio_round(
                    F.col("r2") - F.col("n_pos") * (F.col("n_pos") + 1),
                    2 * F.col("n_pos") * (F.col("n_total") - F.col("n_pos")),
                    4,
                ),
            ).alias("auc"),
        )
        .orderBy("event_type")
    )


_register(
    "events_value_auc",
    f"""
    WITH ev AS (
      SELECT {cents_sql("value")} AS s, event_type FROM events
      WHERE value IS NOT NULL
    ),
    gs AS (SELECT s, COUNT(*) AS m FROM ev GROUP BY 1),
    grid AS (
      SELECT s, m,
             SUM(m) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - m AS c
      FROM gs
    ),
    gst AS (SELECT s, event_type, COUNT(*) AS p FROM ev GROUP BY 1, 2),
    per_t AS (
      SELECT event_type, SUM(p) AS n_pos,
             SUM(p * (2 * c + m + 1)) AS r2
      FROM gst JOIN grid USING (s) GROUP BY 1
    ),
    nrow AS (SELECT SUM(m) AS n_total FROM gs)
    SELECT event_type, CAST(n_pos AS BIGINT) AS n_pos,
           CASE WHEN n_pos > 0 AND n_total > n_pos THEN
             {ratio_round_sql("r2 - n_pos * (n_pos + 1)",
                              "2 * n_pos * (n_total - n_pos)", 4)}
           ELSE NULL END AS auc
    FROM per_t CROSS JOIN nrow
    ORDER BY event_type
    """,
    doc="Exact one-vs-rest ROC-AUC of the event value score "
    "[ext/eval/quotient]: Mann-Whitney rank sums with tie averaging "
    "over the bounded cents-value grid — 2R1 stays integral, AUC via "
    "ratio_round, NULL on degenerate classes.",
)(_events_value_auc)


_TE_SMOOTH = 20  # pseudo-observations pulled toward the global prior


def _segment_priority_target_encoding(spark: SparkSession, sf: str) -> DataFrame:
    """Smoothed target encoding of (market segment × order priority) →
    P(order status = 'F') — the classic categorical-feature encoder
    (micci-barreca smoothing): enc = (pos + m·prior) / (cnt + m) blends
    each category's empirical rate with the global prior, m = 20
    pseudo-observations, so rare categories shrink toward the prior
    instead of memorizing noise.

    Exactness: with prior = S/N the encoding is the single integer
    ratio (pos·N + m·S) / ((cnt + m)·N) — ratio_round; the raw rate is
    pos/cnt likewise. No float division anywhere.

    Scale shape: orders ⋈ customer shuffles once on the key (both
    sides corpus-sized — no broadcast), then collapses map-side to the
    |segments|·|priorities| grid; the global stats row derives from
    that grid (checkpointed for its two consumers)."""
    oc = (
        _t(spark, sf, "orders")
        .join(
            _t(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_mktsegment",
            "o_orderpriority",
            (F.col("o_orderstatus") == "F").cast("long").alias("y"),
        )
    )
    cat = (
        oc.groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos"))
        .localCheckpoint(eager=False)  # two consumers: rows + global stats
    )
    glob = cat.agg(
        F.sum("cnt").alias("n_total"), F.sum("pos").alias("s_total")
    )
    m = F.lit(_TE_SMOOTH)
    return (
        cat.crossJoin(F.broadcast(glob))
        .select(
            "c_mktsegment",
            "o_orderpriority",
            F.col("cnt").cast("long").alias("n_orders"),
            F.col("pos").cast("long").alias("n_pos"),
            ratio_round(F.col("pos"), F.col("cnt"), 4).alias("raw_rate"),
            ratio_round(
                F.col("pos") * F.col("n_total") + m * F.col("s_total"),
                (F.col("cnt") + m) * F.col("n_total"),
                4,
            ).alias("enc_smoothed"),
        )
        .orderBy("c_mktsegment", "o_orderpriority")
    )


_register(
    "segment_priority_target_encoding",
    f"""
    WITH oc AS (
      SELECT c_mktsegment, o_orderpriority,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cat AS (
      SELECT c_mktsegment, o_orderpriority,
             COUNT(*) AS cnt, SUM(y) AS pos
      FROM oc GROUP BY 1, 2
    ),
    gstats AS (SELECT SUM(cnt) AS n_total, SUM(pos) AS s_total FROM cat)
    SELECT c_mktsegment, o_orderpriority,
           CAST(cnt AS BIGINT) AS n_orders,
           CAST(pos AS BIGINT) AS n_pos,
           {ratio_round_sql("pos", "cnt", 4)} AS raw_rate,
           {ratio_round_sql(
               f"pos * n_total + {_TE_SMOOTH} * s_total",
               f"(cnt + {_TE_SMOOTH}) * n_total", 4)} AS enc_smoothed
    FROM cat CROSS JOIN gstats
    ORDER BY c_mktsegment, o_orderpriority
    """,
    doc="Smoothed target encoding of segment × priority → P(status=F) "
    "[ext/pipeline/quotient]: (pos + m·prior)/(cnt + m) as ONE integer "
    "ratio (pos·N + m·S)/((cnt+m)·N), m = 20; raw rate alongside; "
    "dimension-grid aggregate with checkpointed global stats.",
)(_segment_priority_target_encoding)


def _text_readability_scores(spark: SparkSession, sf: str) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic surface-readability screen a text-quality pipeline runs
    alongside the heuristic quality score (words/sentence and
    syllables/word as the two dials).

    Counts are engine-portable ASCII regex counts: words = whitespace
    tokens of the shared normalization, sentences = runs of [.!?]
    (min 1), syllables = vowel-group runs [aeiouy]+ (min 1). Both
    scores are linear combinations of the integer ratios W/T and Y/W,
    so each is ONE exact rational with denominator 1000·T·W:
      flesch = (206835·T·W − 1015·W² − 84600·Y·T) / (1000·T·W)
      fk     = (390·W² + 11800·Y·T − 15590·T·W) / (1000·T·W)
    rounded via ratio_round — the r6 linear-combination rule says a
    double-space weighted sum of these quotients would tie on the grid.

    Scale shape: pure per-row expressions in one scan; zero shuffles
    beyond the output sort."""
    t = _text._norm(F.col("text"))
    w_ = F.size(F.split(t, " "))
    s_ = F.greatest(F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1))
    y_ = F.greatest(
        F.regexp_count(_dedup.ascii_lower(F.col("text")), F.lit("[aeiouy]+")),
        F.lit(1),
    )
    d = (
        _t(spark, sf, "documents")
        .filter(F.length(t) > 0)
        .select(
            "doc_id",
            w_.cast("long").alias("n_words"),
            s_.cast("long").alias("n_sentences"),
            y_.cast("long").alias("n_syllables"),
        )
    )
    tw = F.col("n_sentences") * F.col("n_words")
    return d.select(
        "doc_id",
        "n_words",
        "n_sentences",
        "n_syllables",
        ratio_round(
            F.lit(206835) * tw
            - F.lit(1015) * F.col("n_words") * F.col("n_words")
            - F.lit(84600) * F.col("n_syllables") * F.col("n_sentences"),
            F.lit(1000) * tw,
            4,
        ).alias("flesch"),
        ratio_round(
            F.lit(390) * F.col("n_words") * F.col("n_words")
            + F.lit(11800) * F.col("n_syllables") * F.col("n_sentences")
            - F.lit(15590) * tw,
            F.lit(1000) * tw,
            4,
        ).alias("fk_grade"),
    ).orderBy("doc_id")


_register(
    "text_readability_scores",
    f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split({_DEDUP_NORM_SQL.format(col="text")}, ' '))
               AS n_words,
             GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1)
               AS n_sentences,
             GREATEST(len(regexp_extract_all({_ASCII_LOWER_SQL.format(col="text")}, '[aeiouy]+')), 1)
               AS n_syllables
      FROM documents
      WHERE len({_DEDUP_NORM_SQL.format(col="text")}) > 0
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           {ratio_round_sql(
               "206835 * n_sentences * n_words - 1015 * n_words * n_words"
               " - 84600 * n_syllables * n_sentences",
               "1000 * n_sentences * n_words", 4)} AS flesch,
           {ratio_round_sql(
               "390 * n_words * n_words + 11800 * n_syllables * n_sentences"
               " - 15590 * n_sentences * n_words",
               "1000 * n_sentences * n_words", 4)} AS fk_grade
    FROM d
    ORDER BY doc_id
    """,
    doc="Flesch reading-ease + FK grade per document [ext/text/quotient]: "
    "portable regex counts (words/sentence-runs/vowel-group syllables), "
    "each score ONE exact rational over 1000·T·W via ratio_round (the "
    "linear-combination rule forbids double-space weighting); zero "
    "shuffles.",
)(_text_readability_scores)


def _acctbal_woe_iv(spark: SparkSession, sf: str) -> DataFrame:
    """Weight-of-evidence + information value of the account-balance
    bucket as a predictor of finished orders — the credit-scoring
    feature screen (Siddiqi binning): WoE_i = ln((g_i/G)/(b_i/B)) per
    bucket with add-1 smoothing, IV = Σ (g_i/G − b_i/B)·WoE_i.

    Exactness: the ln argument is the exact-integer double ratio
    (g·B)/(b·G) built identically on both engines (products < 2^53);
    WoE rounds at 1e-6 (transcendental output — off-grid, the PMI
    precedent); each IV term rounds to 1e-6 integer units BEFORE the
    sum (the chi2/PSI idiom — a float Σ would reorder), and the total
    rides a full-frame window.

    Scale shape: orders ⋈ customer shuffles once, collapses map-side
    to the ≤5-row bucket grid; every window runs over that grid."""
    from pyspark.sql import Window

    bucket = bucketize(
        F.col("c_acctbal"),
        [0.0, 2500.0, 5000.0, 7500.0],
        ["negative", "q1", "q2", "q3", "q4"],
    )
    oc = (
        _t(spark, sf, "orders")
        .join(
            _t(spark, sf, "customer"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            bucket.alias("balance_bucket"),
            (F.col("o_orderstatus") == "F").cast("long").alias("y"),
        )
    )
    cat = oc.groupBy("balance_bucket").agg(
        (F.sum("y") + 1).alias("g"),
        (F.count(F.lit(1)) - F.sum("y") + 1).alias("b"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tot = cat.select(
        "balance_bucket",
        "g",
        "b",
        F.sum("g").over(w_all).alias("gt"),
        F.sum("b").over(w_all).alias("bt"),
    )
    lnarg = (F.col("g") * F.col("bt")).cast("double") / (
        F.col("b") * F.col("gt")
    ).cast("double")
    woe_units = F.round(F.log(lnarg) * 1e6).cast("long")
    p_diff = F.col("g").cast("double") / F.col("gt").cast("double") - F.col(
        "b"
    ).cast("double") / F.col("bt").cast("double")
    term_units = F.round(p_diff * F.log(lnarg) * 1e6).cast("long")
    terms = tot.select(
        "balance_bucket",
        (F.col("g") - 1).cast("long").alias("n_good"),
        (F.col("b") - 1).cast("long").alias("n_bad"),
        (woe_units.cast("double") / F.lit(1e6)).alias("woe"),
        term_units.alias("term_units"),
    )
    return terms.select(
        "balance_bucket",
        "n_good",
        "n_bad",
        "woe",
        (F.sum("term_units").over(w_all).cast("double") / F.lit(1e6)).alias(
            "iv"
        ),
    ).orderBy("balance_bucket")


_register(
    "acctbal_woe_iv",
    """
    WITH oc AS (
      SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                  WHEN c_acctbal < 2500 THEN 'q1'
                  WHEN c_acctbal < 5000 THEN 'q2'
                  WHEN c_acctbal < 7500 THEN 'q3'
                  ELSE 'q4' END AS balance_bucket,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders JOIN customer ON o_custkey = c_custkey
    ),
    cat AS (
      SELECT balance_bucket,
             SUM(y) + 1 AS g,
             COUNT(*) - SUM(y) + 1 AS b
      FROM oc GROUP BY 1
    ),
    tot AS (
      SELECT balance_bucket, g, b,
             SUM(g) OVER () AS gt, SUM(b) OVER () AS bt
      FROM cat
    ),
    terms AS (
      SELECT balance_bucket,
             CAST(g - 1 AS BIGINT) AS n_good,
             CAST(b - 1 AS BIGINT) AS n_bad,
             CAST(CAST(ROUND(ln(CAST(g * bt AS DOUBLE)
                                / CAST(b * gt AS DOUBLE)) * 1e6)
                       AS BIGINT) AS DOUBLE) / 1e6 AS woe,
             CAST(ROUND((CAST(g AS DOUBLE) / CAST(gt AS DOUBLE)
                         - CAST(b AS DOUBLE) / CAST(bt AS DOUBLE))
                        * ln(CAST(g * bt AS DOUBLE)
                             / CAST(b * gt AS DOUBLE)) * 1e6)
                  AS BIGINT) AS term_units
      FROM tot
    )
    SELECT balance_bucket, n_good, n_bad, woe,
           CAST(SUM(term_units) OVER () AS DOUBLE) / 1e6 AS iv
    FROM terms
    ORDER BY balance_bucket
    """,
    doc="WoE + information value of the acctbal bucket vs finished "
    "orders [ext/stats/eval]: add-1-smoothed ln((g/G)/(b/B)) at 1e-6 "
    "(transcendental, off-grid), IV terms rounded to integer units "
    "before the exact sum (the chi2/PSI idiom); bucket-grid windows "
    "only.",
)(_acctbal_woe_iv)


def _graph_local_clustering(spark: SparkSession, sf: str) -> DataFrame:
    """Per-node local clustering coefficient of the 1998+ part
    co-purchase graph — see ``operators/graph.py::local_clustering``:
    the census's degree-ordered wedge join yields each triangle once
    rooted at its lowest-ordered vertex; member fan-out + map-side
    combine gives per-node triangle counts, lcc = 2·tri/(d·(d−1)) via
    ratio_round for every node with degree ≥ 2."""
    from .operators.graph import copurchase_pairs, local_clustering

    return local_clustering(copurchase_pairs(_lineitem_1998(spark, sf)))


_register(
    "graph_local_clustering",
    f"""
    WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
    {_UND_SQL},
    deg AS MATERIALIZED (
      SELECT node, COUNT(*) AS d
      FROM (SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      GROUP BY node),
    o AS MATERIALIZED (
      SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND src < dst)
                  THEN src ELSE dst END AS a,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND src < dst)
                  THEN dst ELSE src END AS b,
             CASE WHEN du.d < dv.d OR (du.d = dv.d AND src < dst)
                  THEN dv.d ELSE du.d END AS db
      FROM und
      JOIN deg du ON du.node = und.src
      JOIN deg dv ON dv.node = und.dst),
    w AS MATERIALIZED (
      SELECT x.a AS a, x.b AS wb, y.b AS wc
      FROM o x JOIN o y
        ON x.a = y.a AND (x.db < y.db OR (x.db = y.db AND x.b < y.b))),
    tri AS MATERIALIZED (
      SELECT w.a, w.wb, w.wc
      FROM w JOIN o ON o.a = w.wb AND o.b = w.wc),
    member AS MATERIALIZED (
      SELECT node, COUNT(*) AS t
      FROM (SELECT a AS node FROM tri
            UNION ALL SELECT wb FROM tri
            UNION ALL SELECT wc FROM tri)
      GROUP BY node)
    SELECT deg.node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(member.t, 0) AS BIGINT) AS n_triangles,
           {ratio_round_sql("2 * COALESCE(member.t, 0)",
                            "deg.d * (deg.d - 1)", 4)} AS lcc
    FROM deg LEFT JOIN member USING (node)
    WHERE deg.d >= 2
    ORDER BY deg.node
    """,
    doc="Per-node local clustering coefficient of the part co-purchase "
    "graph [ext/analytics/graph]: triangles from the degree-ordered "
    "wedge join fan out to member nodes with a map-side combine; exact "
    "integer counts, lcc = 2T/(d(d-1)) via ratio_round; degree >= 2 "
    "rows only.",
)(_graph_local_clustering)


def _value_cdf_dense(spark: SparkSession, sf: str, with_gap: bool):
    """Shared scaffold of the distribution-drift screens
    (``events_value_ks_test``, ``events_value_wasserstein``): the
    one-vs-rest cumulative CDF counts of `value` per event type over
    the bounded cents grid.

    Returns a DataFrame with (s, event_type, n1, n0, ct, c1[, gap]):
    grid value, class, class size, rest size, cumulative TOTAL count
    <= s, cumulative CLASS count <= s, and (if ``with_gap``) the
    spacing to the next grid value (0 on the last row). One fact scan
    collapses map-side to the value and (value, type) grids — bounded
    by the cents domain, not the corpus; the global-order prefix
    window over the value grid is a deliberate bounded
    SinglePartition; densification is grid x |types| rows with
    per-type cumulative windows. ONE audited copy (the FDR lesson):
    grid-NULL ordering, the cross-join densify, and the cumulative
    framing live here and nowhere else."""
    from pyspark.sql import Window

    ev = (
        _t(spark, sf, "events")
        # NULL measurements are excluded from the distribution on BOTH
        # engines (see events_value_auc; r8 NULL-injection audit).
        .filter(F.col("value").isNotNull())
        .select(cents(F.col("value")).alias("s"), "event_type")
    )
    gs = (
        ev.groupBy("s")
        .agg(F.count(F.lit(1)).alias("m"))
        .localCheckpoint(eager=False)  # two consumers: grid window + N
    )
    wcum = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, 0)
    grid_cols = ["s", F.sum("m").over(wcum).alias("ct")]
    if with_gap:
        word = Window.orderBy("s")
        grid_cols.append(
            (
                F.coalesce(F.lead("s").over(word), F.col("s")) - F.col("s")
            ).alias("gap")
        )
    grid = gs.select(*grid_cols)
    types = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n1"))
    gst = ev.groupBy("s", "event_type").agg(F.count(F.lit(1)).alias("p"))
    dense = (
        grid.crossJoin(F.broadcast(types))
        .join(gst, ["s", "event_type"], "left")
        .withColumn("p", F.coalesce(F.col("p"), F.lit(0)))
    )
    wtyp = (
        Window.partitionBy("event_type")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ntot = gs.agg(F.sum("m").alias("n"))
    out = ["s", "event_type", "n1", "ct", F.sum("p").over(wtyp).alias("c1")]
    if with_gap:
        out.insert(4, "gap")
    return (
        dense.select(*out)
        .crossJoin(F.broadcast(ntot))
        .withColumn("n0", F.col("n") - F.col("n1"))
        .drop("n")
    )


def _value_cdf_ctes(with_gap: bool) -> str:
    """DuckDB twin of :func:`_value_cdf_dense` — the shared CTE prefix
    ending in ``cum`` with (s, event_type, n1, n0, ct, c1[, gap])."""
    gap_grid = (
        ",\n             COALESCE(LEAD(s) OVER (ORDER BY s), s) - s AS gap"
        if with_gap
        else ""
    )
    gap_col = ", grid.gap" if with_gap else ""
    return f"""ev AS (
      SELECT {cents_sql("value")} AS s, event_type FROM events
      WHERE value IS NOT NULL
    ),
    gs AS (SELECT s, COUNT(*) AS m FROM ev GROUP BY 1),
    grid AS (
      SELECT s,
             SUM(m) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS ct{gap_grid}
      FROM gs
    ),
    types AS (SELECT event_type, COUNT(*) AS n1 FROM ev GROUP BY 1),
    gst AS (SELECT s, event_type, COUNT(*) AS p FROM ev GROUP BY 1, 2),
    dense AS (
      SELECT grid.s, types.event_type, types.n1, grid.ct{gap_col},
             COALESCE(gst.p, 0) AS p
      FROM grid CROSS JOIN types
      LEFT JOIN gst ON gst.s = grid.s AND gst.event_type = types.event_type
    ),
    cum AS (
      SELECT s, event_type, n1,
             (SELECT SUM(m) FROM gs) - n1 AS n0, ct{gap_col.replace("grid.", "")},
             SUM(p) OVER (PARTITION BY event_type ORDER BY s
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS c1
      FROM dense
    )"""


def _events_value_ks_test(spark: SparkSession, sf: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov test of `value` for each
    event type vs the rest — the standard distribution-drift /
    feature-usefulness screen beside the AUC (``events_value_auc``):
    D = sup_x |F1(x) − F0(x)|, plus the location of the supremum and
    the Smirnov asymptotic p-value.

    Exactness: both ECDFs step only on the bounded cents-value grid
    (the shared :func:`_value_cdf_dense` scaffold), so D's numerator
    is the exact integer max over the grid of |c1·n0 − c0·n1|
    (cross-multiplied — no float CDF is ever formed); D rounds via
    ratio_round, the argmax location tie-breaks to the smallest grid
    value, and the p-value 2·exp(−2·D²·n1·n0/(n1+n0)) is a
    transcendental of exact-integer doubles (off-grid, the WoE/PMI
    precedent) rounded to 1e-6 in integer units. Integer products
    stay < 2^63 up to ~3e9 rows/class; beyond that lift to DECIMAL.

    Scale shape: see the scaffold; the per-type roll-up is |types|
    rows."""
    from pyspark.sql import Window

    scored = _value_cdf_dense(spark, sf, with_gap=False).select(
        "s",
        "event_type",
        "n1",
        "n0",
        F.abs(
            F.col("c1") * F.col("n0") - (F.col("ct") - F.col("c1")) * F.col("n1")
        ).alias("num"),
    )
    wt = Window.partitionBy("event_type")
    per = (
        scored.withColumn("nmax", F.max("num").over(wt))
        .filter(F.col("num") == F.col("nmax"))
        .groupBy("event_type", "n1", "n0", "nmax")
        .agg(F.min("s").alias("ks_at"))
    )
    n1d, n0d = F.col("n1").cast("double"), F.col("n0").cast("double")
    nmd = F.col("nmax").cast("double")
    praw = F.lit(2.0) * F.exp(
        F.lit(-2.0) * nmd * nmd / (n1d * n0d * (n1d + n0d))
    )
    return per.select(
        "event_type",
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_rest"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            ratio_round(F.col("nmax"), F.col("n1") * F.col("n0"), 6),
        ).alias("ks_d"),
        F.col("ks_at").cast("long").alias("ks_at_cents"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            F.round(F.least(F.lit(1.0), praw) * F.lit(1e6))
            .cast("long")
            .cast("double")
            / F.lit(1e6),
        ).alias("ks_pvalue"),
    ).orderBy("event_type")


_register(
    "events_value_ks_test",
    f"""
    WITH {_value_cdf_ctes(with_gap=False)},
    scored AS (
      SELECT s, event_type, n1, n0,
             abs(CAST(c1 AS HUGEINT) * n0
                 - CAST(ct - c1 AS HUGEINT) * n1) AS num
      FROM cum
    ),
    per AS (
      SELECT event_type, n1, n0, nmax, MIN(s) AS ks_at
      FROM (SELECT *, MAX(num) OVER (PARTITION BY event_type) AS nmax
            FROM scored)
      WHERE num = nmax
      GROUP BY 1, 2, 3, 4
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_pos,
           CAST(n0 AS BIGINT) AS n_rest,
           CASE WHEN n1 > 0 AND n0 > 0 THEN
             {ratio_round_sql("nmax", "n1 * n0", 6)}
           ELSE NULL END AS ks_d,
           CAST(ks_at AS BIGINT) AS ks_at_cents,
           CASE WHEN n1 > 0 AND n0 > 0 THEN
             CAST(CAST(ROUND(LEAST(1.0,
               2.0 * EXP(-2.0 * CAST(nmax AS DOUBLE) * CAST(nmax AS DOUBLE)
                         / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                            * (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)))))
               * 1e6) AS BIGINT) AS DOUBLE) / 1000000.0
           ELSE NULL END AS ks_pvalue
    FROM per
    ORDER BY event_type
    """,
    doc="Exact one-vs-rest two-sample KS test of the event value "
    "[ext/eval/quotient]: integer cross-multiplied sup over the bounded "
    "cents grid (shared CDF scaffold), argmax location with "
    "smallest-value tie-break, Smirnov p-value as a 1e-6-unit-rounded "
    "transcendental of exact integers.",
)(_events_value_ks_test)


def _orders_mann_kendall(spark: SparkSession, sf: str) -> DataFrame:
    """Mann-Kendall trend test of daily revenue over the trailing 90
    days — the nonparametric companion of ``orders_theilsen_trend``
    (same window, same day grid): S = Σ_{i<j} sgn(y_j − y_i), the
    tie-corrected variance (×18 to stay integral), and Kendall's
    tau-a = 2S / (n(n−1)).

    Exactness: S is an exact integer sign sum over the fixed pair
    table; var(S)·18 = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) is exact
    integer arithmetic over the tie-group sizes (no /18 float); tau-a
    rounds via ratio_round. No z/p here — z needs sqrt(var) whose
    argument can be a perfect square (rational output → grid tie), so
    the exact integers are the deliverable.

    Scale shape: identical to Theil-Sen — the fact table collapses
    map-side to the day grid, the trailing filter caps it at 90 rows
    (checkpointed: both pair sides + the tie-group aggregate consume
    it), and the ≈4k-pair table is fixed-size whatever the corpus."""
    _, days = _trailing_days(spark, sf)
    days = days.localCheckpoint(eager=False)  # pair sides + tie groups
    a = days.select(F.col("d").alias("da"), F.col("y").alias("ya"))
    b = days.select(F.col("d").alias("db"), F.col("y").alias("yb"))
    ps = (
        a.join(b, F.col("da") < F.col("db"))
        .agg(
            F.sum(
                F.when(F.col("yb") > F.col("ya"), 1)
                .when(F.col("yb") < F.col("ya"), -1)
                .otherwise(0)
            ).alias("s_stat")
        )
    )
    ties = (
        days.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.sum("t").alias("n"),
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            ).alias("tvar"),
        )
    )
    return ps.crossJoin(F.broadcast(ties)).select(
        F.col("n").cast("long").alias("n_days"),
        F.col("s_stat").cast("long").alias("s_stat"),
        (
            F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
            - F.col("tvar")
        )
        .cast("long")
        .alias("var_s_x18"),
        F.when(
            F.col("n") > 1,
            ratio_round(
                2 * F.col("s_stat"), F.col("n") * (F.col("n") - 1), 4
            ),
        ).alias("tau_a"),
    )


_register(
    "orders_mann_kendall",
    f"""
    WITH all_days AS (
      SELECT epoch_ms(o_orderdate) // 86400000 AS d,
             {cents_sql("SUM(o_totalprice)")} AS y
      FROM orders GROUP BY 1
    ),
    days AS (
      SELECT d, y FROM all_days
      WHERE d > (SELECT MAX(d) FROM all_days) - {_THEILSEN_DAYS}
    ),
    ps AS (
      SELECT SUM(CASE WHEN b.y > a.y THEN 1
                      WHEN b.y < a.y THEN -1 ELSE 0 END) AS s_stat
      FROM days a JOIN days b ON a.d < b.d
    ),
    ties AS (
      SELECT SUM(t) AS n, SUM(t * (t - 1) * (2 * t + 5)) AS tvar
      FROM (SELECT COUNT(*) AS t FROM days GROUP BY y)
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(s_stat AS BIGINT) AS s_stat,
           CAST(n * (n - 1) * (2 * n + 5) - tvar AS BIGINT) AS var_s_x18,
           CASE WHEN n > 1 THEN
             {ratio_round_sql("2 * s_stat", "n * (n - 1)", 4)}
           ELSE NULL END AS tau_a
    FROM ps CROSS JOIN ties
    """,
    doc="Mann-Kendall trend test of trailing-90-day daily revenue "
    "[ext/timeseries/quotient]: exact integer sign sum over the fixed "
    "pair table, tie-corrected variance kept integral (x18), tau-a via "
    "ratio_round; no z/p (sqrt of a possibly-square rational).",
)(_orders_mann_kendall)


def _graph_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    """Degree assortativity of the 1998+ part co-purchase graph — see
    ``operators/graph.py::degree_assortativity``: Pearson correlation
    of endpoint degrees over both edge orientations, which makes the
    marginals coincide and collapses the sqrt denominator into ONE
    exact integer ratio (M·Σxy − (Σx)²) / (M·Σx² − (Σx)²)."""
    from .operators.graph import copurchase_pairs, degree_assortativity

    return degree_assortativity(copurchase_pairs(_lineitem_1998(spark, sf)))


_register(
    "graph_degree_assortativity",
    f"""
    WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
    {_UND_SQL},
    deg AS MATERIALIZED (
      SELECT node, COUNT(*) AS d
      FROM (SELECT src AS node FROM und UNION ALL SELECT dst FROM und)
      GROUP BY node),
    ed AS MATERIALIZED (
      SELECT du.d AS dx, dv.d AS dy
      FROM und
      JOIN deg du ON du.node = und.src
      JOIN deg dv ON dv.node = und.dst),
    st AS MATERIALIZED (
      SELECT COUNT(*) AS m,
             SUM(dx + dy) AS sx,
             SUM(dx * dx + dy * dy) AS sxx,
             SUM(2 * dx * dy) AS sxy
      FROM ed)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
           CAST(m AS BIGINT) AS n_edges,
           CASE WHEN 2 * m * sxx - sx * sx > 0 THEN
             {ratio_round_sql("2 * m * sxy - sx * sx",
                              "2 * m * sxx - sx * sx", 6)}
           ELSE NULL END AS assortativity
    FROM st
    """,
    doc="Degree assortativity of the part co-purchase graph "
    "[ext/analytics/graph]: both-orientation symmetry turns Newman's "
    "Pearson-over-edges into one exact integer ratio (no sqrt); "
    "degrees join the edge table, one global aggregate.",
)(_graph_degree_assortativity)


_KCORE_K = 20  # co-purchase graph: nontrivial core, <=4 peel rounds/SF


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled peel-round CTE chain — the DuckDB twin of
    ``operators/graph.py::kcore``. Peeling is idempotent at its
    fixpoint, so unrolling MORE rounds than convergence needs is a
    no-op; the Spark side raises if the fixpoint is beyond ``rounds``,
    which keeps the two sides from silently diverging. Every CTE is
    MATERIALIZED: each round references the previous one three times,
    and DuckDB's default CTE inlining makes the expansion exponential
    (measured: "too many open files" on the re-opened parquet)."""
    ctes = [
        """lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01')""",
        """e0 AS MATERIALIZED (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lp a JOIN lp b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)""",
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node, COUNT(*) AS d
      FROM (SELECT src AS node FROM e{i - 1}
            UNION ALL SELECT dst FROM e{i - 1})
      GROUP BY node)"""
        )
        ctes.append(
            f"""e{i} AS MATERIALIZED (
      SELECT src, dst FROM e{i - 1}
      WHERE src IN (SELECT node FROM d{i} WHERE d >= {k})
        AND dst IN (SELECT node FROM d{i} WHERE d >= {k}))"""
        )
    ctes.append(
        f"""dfin AS MATERIALIZED (
      SELECT node, COUNT(*) AS d
      FROM (SELECT src AS node FROM e{rounds}
            UNION ALL SELECT dst FROM e{rounds})
      GROUP BY node)"""
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, CAST(d AS BIGINT) AS core_degree
    FROM dfin WHERE d >= {k}
    ORDER BY node
    """
    )


def _graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    """k-core (k = _KCORE_K) of the 1998+ part co-purchase graph — see
    ``operators/graph.py::kcore``: iterative peeling to fixpoint with
    a scalar convergence probe per round; raises past the shared
    round budget instead of emitting a partial core."""
    from .operators.graph import copurchase_pairs, kcore

    return kcore(copurchase_pairs(_lineitem_1998(spark, sf)), _KCORE_K)


from .operators.graph import KCORE_MAX_ROUNDS as _KCORE_ROUNDS  # noqa: E402

_register(
    "graph_kcore",
    _kcore_oracle_sql(_KCORE_K, _KCORE_ROUNDS),
    doc=f"{_KCORE_K}-core of the part co-purchase graph "
    "[ext/analytics/graph]: iterative peel to fixpoint (shrinking keep "
    "set, scalar count probe, per-round localCheckpoint); oracle "
    "unrolls 8 peel rounds and rides fixpoint idempotence — the Spark "
    "side raises beyond that budget rather than diverge.",
)(_graph_kcore)


def _hits_oracle_sql(iters: int) -> str:
    """Unrolled integer-HITS CTE chain — the DuckDB twin of
    ``operators/graph.py::hits_bipartite`` (uniform hub start, L1
    renormalization to SCALE units by HUGEINT floor division per
    half-iteration). MATERIALIZED for the same exponential-inlining
    reason as the k-core oracle."""
    from .operators.graph import SCALE

    ctes = [
        """e AS MATERIALIZED (
      SELECT o_custkey AS hub, l_partkey AS auth, COUNT(*) AS w
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_shipdate >= TIMESTAMP '1998-01-01'
      GROUP BY 1, 2)""",
        f"""h0 AS MATERIALIZED (
      SELECT hub,
             CAST({SCALE} AS HUGEINT)
               // (SELECT COUNT(DISTINCT hub) FROM e) AS s
      FROM (SELECT DISTINCT hub FROM e))""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""a{i}r AS MATERIALIZED (
      SELECT auth, SUM(CAST(s AS HUGEINT) * w) AS raw
      FROM e JOIN h{i - 1} USING (hub) GROUP BY auth)"""
        )
        ctes.append(
            f"""a{i} AS MATERIALIZED (
      SELECT auth, (raw * {SCALE}) // (SELECT SUM(raw) FROM a{i}r) AS s
      FROM a{i}r)"""
        )
        ctes.append(
            f"""h{i}r AS MATERIALIZED (
      SELECT hub, SUM(CAST(s AS HUGEINT) * w) AS raw
      FROM e JOIN a{i} USING (auth) GROUP BY hub)"""
        )
        ctes.append(
            f"""h{i} AS MATERIALIZED (
      SELECT hub, (raw * {SCALE}) // (SELECT SUM(raw) FROM h{i}r) AS s
      FROM h{i}r)"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT 'hub' AS role, hub AS id, CAST(s AS BIGINT) AS score_scaled
    FROM h{iters}
    UNION ALL
    SELECT 'authority' AS role, auth AS id, CAST(s AS BIGINT) AS score_scaled
    FROM a{iters}
    ORDER BY role, id
    """
    )


def _graph_hits(spark: SparkSession, sf: str) -> DataFrame:
    """Integer HITS over the bipartite customer→part purchase graph
    (1998+ line items; edge weight = line-item count) — see
    ``operators/graph.py::hits_bipartite``: hub scores rank customers
    whose purchases concentrate on widely-bought parts, authority
    scores rank parts bought by such customers."""
    from .operators.graph import hits_bipartite

    li = _lineitem_1998(spark, sf)
    edges = (
        li.join(
            _t(spark, sf, "orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            F.col("o_custkey").alias("hub"),
            F.col("l_partkey").alias("auth"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return hits_bipartite(edges)


_register(
    "graph_hits",
    _hits_oracle_sql(3),
    doc="Integer HITS hub/authority scores on the bipartite "
    "customer-part purchase graph [ext/analytics/graph]: uniform hub "
    "start, 3 iterations, L1 renormalization by exact floor division "
    "(L2's sqrt leaves integer space; ranking is "
    "normalization-invariant); oracle = unrolled MATERIALIZED CTEs.",
)(_graph_hits)


def _events_ks_fdr(spark: SparkSession, sf: str) -> DataFrame:
    """Benjamini-Hochberg FDR correction (α = 0.05) over the per-type
    KS p-values of ``events_value_ks_test`` — the standard
    multiple-testing step when one drift screen runs across many
    features/classes: reject H₀ for the k smallest p-values where k is
    the largest rank with p_(k) ≤ k·α/m.

    Exactness: the p-values are 1e-6-unit integers by construction
    (recovered exactly via ROUND(p·1e6)); the BH step-up test
    p_(k) ≤ k·α/m becomes the integer comparison
    pu·20·m ≤ k·10⁶ (α = 1/20), and the largest passing rank rides a
    full-frame window max. Rank ties break on event_type; NULLS LAST
    is explicit because Spark and DuckDB default opposite ways.

    Scale shape: everything downstream of the KS screen is
    |classes| rows."""
    from pyspark.sql import Window

    ks = _events_value_ks_test(spark, sf).select("event_type", "ks_pvalue")
    w = Window.orderBy(F.asc_nulls_last("ks_pvalue"), F.asc("event_type"))
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = ks.select(
        "event_type",
        "ks_pvalue",
        F.round(F.col("ks_pvalue") * F.lit(1e6)).cast("long").alias("pu"),
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wall).alias("m"),
    )
    cond = F.col("pu") * 20 * F.col("m") <= F.col("rnk") * F.lit(1000000)
    return (
        ranked.select(
            "event_type",
            "ks_pvalue",
            F.col("rnk").cast("long").alias("p_rank"),
            F.max(F.when(cond, F.col("rnk")).otherwise(0))
            .over(wall)
            .alias("kmax"),
        )
        .select(
            "event_type",
            "ks_pvalue",
            "p_rank",
            (F.col("p_rank") <= F.col("kmax")).cast("long").alias(
                "is_rejected"
            ),
        )
        .orderBy("event_type")
    )


_register(
    "events_ks_fdr",
    f"""
    WITH ks AS ({REGISTRY["events_value_ks_test"].oracle}),
    r AS (
      SELECT event_type, ks_pvalue,
             CAST(ROUND(ks_pvalue * 1e6) AS BIGINT) AS pu,
             ROW_NUMBER() OVER (ORDER BY ks_pvalue ASC NULLS LAST,
                                event_type) AS rnk,
             COUNT(*) OVER () AS m
      FROM ks
    ),
    k AS (
      SELECT *,
             MAX(CASE WHEN pu * 20 * m <= rnk * 1000000
                      THEN rnk ELSE 0 END) OVER () AS kmax
      FROM r
    )
    SELECT event_type, ks_pvalue,
           CAST(rnk AS BIGINT) AS p_rank,
           CAST(rnk <= kmax AS BIGINT) AS is_rejected
    FROM k
    ORDER BY event_type
    """,
    doc="Benjamini-Hochberg FDR over the per-type KS p-values "
    "[ext/eval]: step-up test as the exact integer comparison "
    "pu*20*m <= k*1e6 on the 1e-6-unit p-values, largest passing rank "
    "via a full-frame window; explicit NULLS LAST (Spark/DuckDB "
    "defaults differ).",
)(_events_ks_fdr)


def _events_value_wasserstein(spark: SparkSession, sf: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance of `value` for each event
    type vs the rest — the integral companion of the KS sup
    (``events_value_ks_test``), on the same shared
    :func:`_value_cdf_dense` scaffold: W1 = ∫|F1 − F0| dx, in cents.

    Exactness: on the cents grid W1 = Σ_i |c1·n0 − c0·n1|·(s_{i+1}−s_i)
    / (n1·n0) — the cross-multiplied CDF gap times the grid spacing,
    summed over grid rows. Every term is an exact integer (summed in
    DECIMAL(38,0)/HUGEINT — the term bound is N²·range and overflows
    BIGINT long before the inputs do); the single division rounds via
    ratio_round. NULL for degenerate classes."""
    scored = _value_cdf_dense(spark, sf, with_gap=True).select(
        "event_type",
        "n1",
        "n0",
        (
            F.abs(
                F.col("c1") * F.col("n0")
                - (F.col("ct") - F.col("c1")) * F.col("n1")
            ).cast("decimal(38,0)")
            * F.col("gap")
        ).alias("term"),
    )
    per = scored.groupBy("event_type", "n1", "n0").agg(
        F.sum("term").alias("num")
    )
    return per.select(
        "event_type",
        F.col("n1").cast("long").alias("n_pos"),
        F.col("n0").cast("long").alias("n_rest"),
        F.when(
            (F.col("n1") > 0) & (F.col("n0") > 0),
            ratio_round(F.col("num"), F.col("n1") * F.col("n0"), 4),
        ).alias("w1_cents"),
    ).orderBy("event_type")


_register(
    "events_value_wasserstein",
    f"""
    WITH {_value_cdf_ctes(with_gap=True)},
    scored AS (
      SELECT event_type, n1, n0,
             abs(CAST(c1 AS HUGEINT) * n0
                 - CAST(ct - c1 AS HUGEINT) * n1) * gap AS term
      FROM cum
    ),
    per AS (
      SELECT event_type, n1, n0, SUM(term) AS num
      FROM scored GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_pos,
           CAST(n0 AS BIGINT) AS n_rest,
           CASE WHEN n1 > 0 AND n0 > 0 THEN
             {ratio_round_sql("num", "n1 * n0", 4)}
           ELSE NULL END AS w1_cents
    FROM per
    ORDER BY event_type
    """,
    doc="Wasserstein-1 drift distance of the event value per type "
    "[ext/eval/quotient]: exact cross-multiplied CDF gaps times grid "
    "spacing summed in DECIMAL/HUGEINT over the bounded cents grid "
    "(shared CDF scaffold), one ratio_round division; the integral "
    "companion of the KS sup.",
)(_events_value_wasserstein)


_BOOT_B = 100  # Poisson-bootstrap replicates (row fan = B per order)
#: Poisson(1) CDF at k = 0..7 in mod-p units (round(cdf·MINHASH_P)) —
#: weight = first k whose threshold exceeds the Carter-Wegman lane draw,
#: else 8. Same fixed-seed lane family as the portable MinHash.
import math as _math

_BOOT_LO = _math.ceil(0.025 * _BOOT_B)  # 95% CI percentile ranks -
_BOOT_HI = _math.ceil(0.975 * _BOOT_B)  # derived so widening B is safe
_POISSON_TP = (
    790015084,
    1580030168,
    1975037710,
    2106706891,
    2139624186,
    2146207645,
    2147304888,
    2147461637,
)


def _orders_bootstrap_ci(spark: SparkSession, sf: str) -> DataFrame:
    """Poisson-bootstrap 95% CI of the mean order value — the
    SCALABLE bootstrap (each row draws an independent Poisson(1)
    replicate weight, no resample-by-index shuffle; the big-data
    bootstrap idiom): one pass fans every order ×B replicates, each
    replicate's weighted mean collapses map-side, and the CI is read
    off the exact order statistics of the B means.

    Determinism + cost: ONE md5 per order (``dedup.md5_hash_pieces``)
    feeds B Carter-Wegman lanes (A·x1 + B·x2 + C mod p, the portable
    MinHash family with its fixed-seed coefficients) — widening B
    multiplies only codegen'd integer arithmetic, not cryptographic
    hashes (the first draft md5'd per (order, replicate): 100× the
    hash cost, measured 12.7 → ~2 s at sf0.1). The lane draw compares
    against INTEGER Poisson-CDF thresholds (_POISSON_TP), so both
    engines replay identical weights; the DuckDB twin joins the SAME
    Python-generated coefficient list. Replicate means are exact
    rationals (Σw·cents / Σw) ordered by the bit-identical double
    quotient with (num, den) tie-breakers; percentile ranks are
    ceil(0.025·B)=3 and ceil(0.975·B)=98; reported values round via
    ratio_round.

    Scale shape: the ×B fan is the bootstrap's intrinsic cost (B·N
    rows through codegen'd projections); partial aggregation reduces
    the shuffle to B rows per map partition, and everything after the
    B-row table is constant-size. The scan-rooted input is spread
    (one-split parquet would run the whole fan in one task) and
    checkpointed for its two consumers."""
    from pyspark.sql import Window

    from .operators.dedup import MINHASH_P, md5_hash_pieces, minhash_constants
    from .operators.relational import spread_if_few_splits

    o = spread_if_few_splits(
        _t(spark, sf, "orders").select(
            F.col("o_orderkey").alias("key"),
            cents(F.col("o_totalprice")).alias("x"),
        )
    ).localCheckpoint(eager=False)  # two consumers: the fan + fullstats
    x1, x2 = md5_hash_pieces(
        F.concat(F.lit("boot:"), F.col("key").cast("string"))
    )
    hashed = o.select("x", x1.alias("x1"), x2.alias("x2"))
    coefs = spark.createDataFrame(
        [(r, a, b, c) for r, (a, b, c) in enumerate(minhash_constants(_BOOT_B))],
        "r int, ca long, cb long, cc long",
    )
    reps = hashed.select(
        "x",
        "x1",
        "x2",
        F.explode(F.array(*[F.lit(i) for i in range(_BOOT_B)])).alias("r"),
    ).join(F.broadcast(coefs), "r")
    u = (
        F.col("ca") * F.col("x1") + F.col("cb") * F.col("x2") + F.col("cc")
    ) % F.lit(MINHASH_P)
    w = F.lit(8)
    for k in range(len(_POISSON_TP) - 1, -1, -1):
        w = F.when(u < _POISSON_TP[k], k).otherwise(w)
    g = reps.select("r", "x", w.alias("w")).groupBy("r").agg(
        F.sum("w").alias("sw"), F.sum(F.col("w") * F.col("x")).alias("swx")
    )
    wo = Window.orderBy(
        (F.col("swx").cast("double") / F.col("sw").cast("double")).asc(),
        F.asc("swx"),
        F.asc("sw"),
    )
    lo, hi = _BOOT_LO, _BOOT_HI
    ranked = g.select(
        "sw", "swx", F.row_number().over(wo).alias("rn")
    ).filter(F.col("rn").isin(lo, hi))
    cis = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == lo,
                ratio_round(F.col("swx"), F.col("sw") * 100, 4),
            )
        ).alias("ci_lo"),
        F.max(
            F.when(
                F.col("rn") == hi,
                ratio_round(F.col("swx"), F.col("sw") * 100, 4),
            )
        ).alias("ci_hi"),
    )
    full = o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        ratio_round(F.sum("x"), F.count(F.lit(1)) * 100, 4).alias(
            "mean_value"
        ),
    )
    return full.crossJoin(F.broadcast(cis)).select(
        F.col("n_orders").cast("long").alias("n_orders"),
        F.lit(_BOOT_B).cast("long").alias("b_replicates"),
        "mean_value",
        "ci_lo",
        "ci_hi",
    )


def _bootstrap_oracle_sql() -> str:
    """DuckDB twin of the bootstrap — generated from the SAME lane
    coefficients and thresholds the Spark builder uses."""
    from .operators.dedup import MINHASH_P, minhash_constants

    coef_rows = ",\n        ".join(
        f"({r}, {a}, {b}, {c})"
        for r, (a, b, c) in enumerate(minhash_constants(_BOOT_B))
    )
    cases = "\n".join(
        f"               WHEN u < {t} THEN {k}"
        for k, t in enumerate(_POISSON_TP)
    )
    return f"""
    WITH o AS MATERIALIZED (
      SELECT o_orderkey AS key, {cents_sql("o_totalprice")} AS x
      FROM orders
    ),
    hashed AS MATERIALIZED (
      SELECT x,
             ('0x' || substr(md5('boot:' || key::VARCHAR), 1, 7))::BIGINT AS x1,
             ('0x' || substr(md5('boot:' || key::VARCHAR), 8, 7))::BIGINT AS x2
      FROM o
    ),
    coefs(r, ca, cb, cc) AS (
      VALUES {coef_rows}
    ),
    wtd AS (
      SELECT r, x,
             CASE
{cases}
               ELSE 8
             END AS w
      FROM (SELECT c.r, h.x,
                   (c.ca * h.x1 + c.cb * h.x2 + c.cc) % {MINHASH_P} AS u
            FROM hashed h CROSS JOIN coefs c)
    ),
    g AS (
      SELECT r, SUM(w) AS sw, SUM(w * x) AS swx FROM wtd GROUP BY r
    ),
    ranked AS (
      SELECT sw, swx,
             ROW_NUMBER() OVER (ORDER BY
               CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE) ASC,
               swx ASC, sw ASC) AS rn
      FROM g
    ),
    cis AS (
      SELECT
        MAX(CASE WHEN rn = {_BOOT_LO} THEN
          {ratio_round_sql("swx", "sw * 100", 4)} END) AS ci_lo,
        MAX(CASE WHEN rn = {_BOOT_HI} THEN
          {ratio_round_sql("swx", "sw * 100", 4)} END) AS ci_hi
      FROM ranked WHERE rn IN ({_BOOT_LO}, {_BOOT_HI})
    ),
    fullstats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             {ratio_round_sql("SUM(x)", "COUNT(*) * 100", 4)} AS mean_value
      FROM o
    )
    SELECT n_orders, CAST({_BOOT_B} AS BIGINT) AS b_replicates,
           mean_value, ci_lo, ci_hi
    FROM fullstats CROSS JOIN cis
    """


_register(
    "orders_bootstrap_ci",
    _bootstrap_oracle_sql(),
    doc="Poisson-bootstrap 95% CI of the mean order value "
    "[ext/stats/quotient]: one md5 per order feeding B=100 "
    "Carter-Wegman lanes (the portable MinHash family) compared against "
    "integer Poisson-CDF thresholds; replicate means as exact rationals "
    "ordered by the bit-identical double quotient, CI from exact order "
    "statistics; x100 fan with map-side combine, constant-size tail.",
)(_orders_bootstrap_ci)


_CUPED_CUTOFF = "2024-01-16 00:00:00"  # fixture spans 2024-01; 15d/15d split


def _events_cuped(spark: SparkSession, sf: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al. 2013, the
    standard experimentation trick): per-user post-period value
    adjusted by the pre-period covariate, y′ = y − θ·(x − x̄), with
    θ = cov(x,y)/var(x) estimated on the POOLED users. Arms are the
    reproducible md5 hash split (``events_ab_test_report``'s
    construction, salt "cuped").

    Exactness: x/y are exact cents sums per user; cov = N·Σxy − ΣxΣy
    and var = N·Σx² − (Σx)² are exact integers SUMMED IN
    DECIMAL(38,0)/HUGEINT — including the per-user products, which are
    widened BEFORE multiplying (one 7e9-value row makes x·y pass 2^63;
    the r8 magnitude probe crashed the BIGINT form under ANSI, and the
    DuckDB twin widens one operand to HUGEINT first); θ rounds to the 1e-6
    grid via ratio_round and is recovered as integer units, so each
    arm's adjusted mean is ONE exact rational
    (Ya·N·10⁶ − θu·(Xa·N − X·Na)) / (Na·N·10⁸) — no float mixing
    anywhere. θ NULL (and adjusted = raw) when var(x) = 0.

    Scale shape: one fact scan → per-user map-side-combined aggregate
    → a 2-row arm rollup and a 1-row pooled-stats rollup (the per-user
    table is checkpointed for those two consumers) → broadcast
    recombine."""
    from .operators.sampling import hash_bucket

    cut = F.lit(_CUPED_CUTOFF).cast("timestamp")
    ev = _t(spark, sf, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("ts") < cut, cents(F.col("value")))),
                F.lit(0),
            ).alias("x"),
            F.coalesce(
                F.sum(F.when(F.col("ts") >= cut, cents(F.col("value")))),
                F.lit(0),
            ).alias("y"),
        )
        .select(
            hash_bucket(F.col("user_id"), "cuped", 2).alias("arm"), "x", "y"
        )
        .localCheckpoint(eager=False)  # consumers: pooled + per-arm rollups
    )
    dec = "decimal(38,0)"
    pooled = per_user.agg(
        F.count(F.lit(1)).cast(dec).alias("nn"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        # cast BEFORE the product: a 7e9 event value is 7e11 cents, whose
        # square overflows BIGINT under ANSI (the DuckDB twin widens one
        # operand to HUGEINT first for the same reason)
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    ).select(
        "nn",
        "sx",
        "sy",
        (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")).alias("cov"),
        (F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")).alias("varx"),
    )
    arms = per_user.groupBy("arm").agg(
        F.count(F.lit(1)).cast(dec).alias("na"),
        F.sum(F.col("x").cast(dec)).alias("xa"),
        F.sum(F.col("y").cast(dec)).alias("ya"),
    )
    theta = F.when(
        F.col("varx") > 0, ratio_round(F.col("cov"), F.col("varx"), 6)
    )
    j = arms.crossJoin(F.broadcast(pooled)).withColumn(
        "theta_u", F.round(theta * F.lit(1e6)).cast("long")
    )
    adj_num = F.col("ya") * F.col("nn") * F.lit(1000000) - F.col(
        "theta_u"
    ).cast(dec) * (F.col("xa") * F.col("nn") - F.col("sx") * F.col("na"))
    adj_den = F.col("na") * F.col("nn") * F.lit(100000000)
    return j.select(
        F.col("arm").cast("long").alias("arm"),
        F.col("na").cast("long").alias("n_users"),
        (F.col("theta_u").cast("double") / F.lit(1e6)).alias("theta"),
        ratio_round(F.col("ya"), F.col("na") * 100, 4).alias("mean_post"),
        F.when(
            F.col("theta_u").isNotNull(),
            ratio_round(adj_num, adj_den, 4),
        )
        .otherwise(ratio_round(F.col("ya"), F.col("na") * 100, 4))
        .alias("mean_cuped"),
    ).orderBy(F.asc_nulls_last("arm"))


_register(
    "events_cuped",
    f"""
    WITH per_user AS MATERIALIZED (
      SELECT ('0x' || substr(md5('cuped:' || user_id::VARCHAR), 1, 7))::BIGINT
               % 2 AS arm,
             COALESCE(SUM(CASE WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}'
                          THEN {cents_sql("value")} END), 0) AS x,
             COALESCE(SUM(CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}'
                          THEN {cents_sql("value")} END), 0) AS y
      FROM events GROUP BY user_id
    ),
    pooled AS (
      SELECT nn, sx, sy,
             nn * sxy - sx * sy AS cov,
             nn * sxx - sx * sx AS varx
      FROM (SELECT CAST(COUNT(*) AS HUGEINT) AS nn,
                   SUM(CAST(x AS HUGEINT)) AS sx,
                   SUM(CAST(y AS HUGEINT)) AS sy,
                   SUM(CAST(x AS HUGEINT) * x) AS sxx,
                   SUM(CAST(x AS HUGEINT) * y) AS sxy
            FROM per_user)
    ),
    arms AS (
      SELECT arm, CAST(COUNT(*) AS HUGEINT) AS na,
             SUM(CAST(x AS HUGEINT)) AS xa,
             SUM(CAST(y AS HUGEINT)) AS ya
      FROM per_user GROUP BY arm
    ),
    j AS (
      SELECT arm, na, xa, ya, nn, sx, varx,
             CASE WHEN varx > 0 THEN CAST(ROUND(
               {ratio_round_sql("cov", "varx", 6)} * 1e6) AS BIGINT)
             END AS theta_u
      FROM arms CROSS JOIN pooled
    )
    SELECT CAST(arm AS BIGINT) AS arm,
           CAST(na AS BIGINT) AS n_users,
           CAST(theta_u AS DOUBLE) / 1e6 AS theta,
           {ratio_round_sql("ya", "na * 100", 4)} AS mean_post,
           CASE WHEN theta_u IS NOT NULL THEN
             {ratio_round_sql(
                 "ya * nn * 1000000 - theta_u * (xa * nn - sx * na)",
                 "na * nn * 100000000", 4)}
           ELSE {ratio_round_sql("ya", "na * 100", 4)} END AS mean_cuped
    FROM j
    ORDER BY arm ASC NULLS LAST
    """,
    doc="CUPED variance-reduced A/B adjusted means [ext/eval/quotient]: "
    "md5 hash-split arms, pooled theta = cov/var as one exact integer "
    "ratio rounded to the 1e-6 grid, per-arm adjusted mean as ONE exact "
    "rational over Na*N*1e8; DECIMAL/HUGEINT rollups (N*Sxy brushes "
    "2^63 near sf1).",
)(_events_cuped)


def _orders_forecast_backtest(spark: SparkSession, sf: str) -> DataFrame:
    """Rolling-origin backtest of the seasonal-naive forecaster
    (ŷ_d = y_{d−7}) over the trailing 90 days of daily revenue — the
    evaluation harness the forecasting family (Holt, Croston, STL)
    gets judged against in practice: every error is measured
    out-of-sample at its own origin, not on a single holdout.

    Exactness: daily revenues are exact cents sums, each error
    e_d = y_d − y_{d−7} is an exact integer, and MAE (dollars),
    WAPE = Σ|e|/Σ|y|, and mean bias are single ratio_round divisions.
    Days whose d−7 is absent from the day grid (gap days) are skipped
    and COUNTED — silent row loss in a backtest window reads as
    accuracy.

    Scale shape: Theil-Sen's day-grid shape — the fact table collapses
    map-side to the day grid (checkpointed: forecast side, actual
    side, and the max-day probe consume it), the trailing filter caps
    the window, and the d = d−7 self-join and metric rollup are
    window-sized."""
    all_days, cur = _trailing_days(spark, sf)
    lagged = all_days.select(
        (F.col("d") + 7).alias("d"), F.col("y").alias("f")
    )
    j = cur.join(lagged, "d", "left")
    return j.agg(
        F.count("f").cast("long").alias("n_forecasts"),
        (F.count(F.lit(1)) - F.count("f")).cast("long").alias("n_skipped"),
        ratio_round(
            F.sum(F.abs(F.col("y") - F.col("f"))), F.count("f") * 100, 4
        ).alias("mae"),
        ratio_round(
            F.sum(F.abs(F.col("y") - F.col("f"))),
            F.sum(F.when(F.col("f").isNotNull(), F.abs(F.col("y")))),
            4,
        ).alias("wape"),
        ratio_round(
            F.sum(F.col("y") - F.col("f")), F.count("f") * 100, 4
        ).alias("bias"),
    )


_register(
    "orders_forecast_backtest",
    f"""
    WITH all_days AS MATERIALIZED (
      SELECT epoch_ms(o_orderdate) // 86400000 AS d,
             {cents_sql("SUM(o_totalprice)")} AS y
      FROM orders GROUP BY 1
    ),
    cur AS (
      SELECT d, y FROM all_days
      WHERE d > (SELECT MAX(d) FROM all_days) - {_THEILSEN_DAYS}
    ),
    j AS (
      SELECT cur.d, cur.y, l.y AS f
      FROM cur LEFT JOIN all_days l ON l.d = cur.d - 7
    )
    SELECT CAST(COUNT(f) AS BIGINT) AS n_forecasts,
           CAST(COUNT(*) - COUNT(f) AS BIGINT) AS n_skipped,
           {ratio_round_sql("SUM(abs(y - f))", "COUNT(f) * 100", 4)} AS mae,
           {ratio_round_sql(
               "SUM(abs(y - f))",
               "SUM(CASE WHEN f IS NOT NULL THEN abs(y) END)", 4)} AS wape,
           {ratio_round_sql("SUM(y - f)", "COUNT(f) * 100", 4)} AS bias
    FROM j
    """,
    doc="Rolling-origin seasonal-naive backtest over the trailing "
    "90-day revenue grid [ext/timeseries/quotient]: exact integer "
    "errors, MAE/WAPE/bias as single ratio_round divisions, gap days "
    "skipped AND counted.",
)(_orders_forecast_backtest)


def _customer_repeat_survival(spark: SparkSession, sf: str) -> DataFrame:
    """Kaplan-Meier estimate WITH right-censoring: time from each
    customer's FIRST order to their SECOND (the repeat-purchase
    curve); customers who never reorder are censored at the dataset's
    last order date — the complement of ``shipping_lag_survival``,
    which has no censoring.

    Estimator: Ŝ(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ). A cumulative PRODUCT of
    rationals has no bounded exact form, so each factor's log
    ln((nᵢ−dᵢ)/nᵢ) — a transcendental of an exact integer ratio,
    off-grid per the WoE/PMI precedent — is rounded to 1e-9 INTEGER
    units, the cumulative sum runs exactly, and Ŝ = exp(Σ/1e9) is
    rounded at 1e-6 units (the chi2/PSI term-sum idiom applied to a
    product). A risk set that dies out entirely (dᵢ = nᵢ) emits
    survival 0 exactly from that time on (ln(0) guard).

    Per-customer first/second order dates come from ONE in-aggregate
    struct sort (``sort_array(collect_list(...))``, the
    EliminateSorts-safe ordered-agg idiom — never sortWithinPartitions).
    Scale shape: orders collapse map-side per customer, the KM table is
    |distinct durations| rows, and both its windows (risk-set prefix,
    log-survival prefix) run over that bounded grid."""
    from pyspark.sql import Window

    o = _t(spark, sf, "orders").select(
        "o_custkey",
        F.floor(F.unix_millis("o_orderdate") / F.lit(86400000))
        .cast("long")
        .alias("d"),
    )
    maxd = o.agg(F.max("d").alias("dmax"))
    per_c = (
        o.groupBy("o_custkey")
        .agg(
            F.sort_array(F.collect_list(F.struct("d"))).alias("ds"),
        )
        .crossJoin(F.broadcast(maxd))
        .select(
            F.when(
                F.size("ds") >= 2,
                F.col("ds")[1]["d"] - F.col("ds")[0]["d"],
            )
            .otherwise(F.col("dmax") - F.col("ds")[0]["d"])
            .alias("t"),
            (F.size("ds") >= 2).cast("long").alias("e"),
        )
    )
    # both window sums run in ONE downstream select - single consumer,
    # no checkpoint (a phantom-consumer checkpoint was review-caught)
    st = per_c.groupBy("t").agg(
        F.count(F.lit(1)).alias("m"), F.sum("e").alias("dd")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    risk = st.select(
        "t",
        "dd",
        (
            F.sum("m").over(wall) - (F.sum("m").over(wcum) - F.col("m"))
        ).alias("nr"),
    ).filter(F.col("dd") > 0)
    lnu = F.when(
        F.col("dd") < F.col("nr"),
        F.round(
            F.log(
                (F.col("nr") - F.col("dd")).cast("double")
                / F.col("nr").cast("double")
            )
            * F.lit(1e9)
        ).cast("long"),
    )
    wkm = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km = risk.select(
        "t",
        "nr",
        "dd",
        F.sum(lnu).over(wkm).alias("cl"),
        F.max((F.col("dd") == F.col("nr")).cast("int"))
        .over(wkm)
        .alias("dead"),
    )
    return km.select(
        F.col("t").cast("long").alias("t_days"),
        F.col("nr").cast("long").alias("n_risk"),
        F.col("dd").cast("long").alias("n_events"),
        F.when(F.col("dead") == 1, F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(F.col("cl").cast("double") / F.lit(1e9)) * F.lit(1e6)
            )
            .cast("long")
            .cast("double")
            / F.lit(1e6)
        )
        .alias("survival"),
    ).orderBy("t_days")


_register(
    "customer_repeat_survival",
    """
    WITH o AS MATERIALIZED (
      SELECT o_custkey, epoch_ms(o_orderdate) // 86400000 AS d
      FROM orders
    ),
    per_c AS (
      SELECT CASE WHEN COUNT(*) >= 2
                  THEN (array_agg(d ORDER BY d))[2]
                       - (array_agg(d ORDER BY d))[1]
                  ELSE (SELECT MAX(d) FROM o) - MIN(d) END AS t,
             CASE WHEN COUNT(*) >= 2 THEN 1 ELSE 0 END AS e
      FROM o GROUP BY o_custkey
    ),
    st AS (
      SELECT t, COUNT(*) AS m, SUM(e) AS dd FROM per_c GROUP BY t
    ),
    risk AS (
      SELECT t, dd,
             SUM(m) OVER () -
             (SUM(m) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) - m) AS nr
      FROM st
    ),
    km AS (
      SELECT t, nr, dd,
             SUM(CASE WHEN dd < nr THEN CAST(ROUND(
               ln(CAST(nr - dd AS DOUBLE) / CAST(nr AS DOUBLE)) * 1e9)
               AS BIGINT) END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS cl,
             MAX(CASE WHEN dd = nr THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS dead
      FROM risk WHERE dd > 0
    )
    SELECT CAST(t AS BIGINT) AS t_days,
           CAST(nr AS BIGINT) AS n_risk,
           CAST(dd AS BIGINT) AS n_events,
           CASE WHEN dead = 1 THEN 0.0
                ELSE CAST(CAST(ROUND(EXP(CAST(cl AS DOUBLE) / 1e9) * 1e6)
                          AS BIGINT) AS DOUBLE) / 1000000.0
           END AS survival
    FROM km
    ORDER BY t_days
    """,
    doc="Kaplan-Meier repeat-purchase survival WITH right-censoring "
    "[ext/analytics/survival]: event = second order, single-order "
    "customers censored at the dataset end; per-factor logs unit-rounded "
    "at 1e-9, exact cumulative sum, exp rounded at 1e-6 (the PSI idiom "
    "applied to a product); died-out risk set emits exact 0.",
)(_customer_repeat_survival)


def _events_did(spark: SparkSession, sf: str) -> DataFrame:
    """Difference-in-differences readout: users hash-split into
    treated/control arms (salt "did"), periods split at the CUPED
    cutoff, and the effect estimate is the classic
    (ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre) over per-event values.

    Exactness: each cell mean is an exact cents-sum/count pair; the
    DiD combines the four on their common denominator
    (Σ ±Sᵢ·Π_{j≠i}nⱼ) / (Π nⱼ · 100) — one ratio_round, no float
    mixing. Cell products run in DECIMAL(38,0)/HUGEINT (S·n³ passes
    2^63 at ~1e5 rows/cell; stays < 1e38 to ~1e7 rows/cell — lower
    the common denominator to unit-rounded cell means past that).
    NULL when any cell is empty.

    Scale shape: one fact scan collapses map-side to the 4
    (arm, period) cells; everything after is constant-size."""
    from .operators.sampling import hash_bucket

    cut = F.lit(_CUPED_CUTOFF).cast("timestamp")
    ev = _t(spark, sf, "events").select(
        hash_bucket(F.col("user_id"), "did", 2).alias("arm"),
        # NULL-symmetric: a NULL ts lands in NEITHER period on BOTH
        # engines (an ELSE-0 oracle against this cast diverged - review)
        F.when(F.col("ts") >= cut, 1)
        .when(F.col("ts") < cut, 0)
        .alias("post"),
        cents(F.col("value")).alias("x"),
    )
    dec = "decimal(38,0)"
    cells = ev.groupBy("arm", "post").agg(
        F.count(F.lit(1)).cast(dec).alias("n"), F.sum(F.col("x").cast(dec)).alias("s")
    )

    def _cell(arm: int, post: int, col: str) -> Column:
        return F.max(
            F.when((F.col("arm") == arm) & (F.col("post") == post), F.col(col))
        )

    one = cells.agg(
        _cell(1, 0, "n").alias("ntp0"),
        _cell(1, 1, "n").alias("ntp1"),
        _cell(0, 0, "n").alias("ncp0"),
        _cell(0, 1, "n").alias("ncp1"),
        _cell(1, 0, "s").alias("stp0"),
        _cell(1, 1, "s").alias("stp1"),
        _cell(0, 0, "s").alias("scp0"),
        _cell(0, 1, "s").alias("scp1"),
    )
    num = (
        F.col("stp1") * F.col("ntp0") * F.col("ncp1") * F.col("ncp0")
        - F.col("stp0") * F.col("ntp1") * F.col("ncp1") * F.col("ncp0")
        - F.col("scp1") * F.col("ncp0") * F.col("ntp1") * F.col("ntp0")
        + F.col("scp0") * F.col("ncp1") * F.col("ntp1") * F.col("ntp0")
    )
    den = (
        F.col("ntp1") * F.col("ntp0") * F.col("ncp1") * F.col("ncp0") * 100
    )
    ok = (
        F.col("ntp1").isNotNull()
        & F.col("ntp0").isNotNull()
        & F.col("ncp1").isNotNull()
        & F.col("ncp0").isNotNull()
    )
    return one.select(
        F.col("ntp0").cast("long").alias("n_treat_pre"),
        F.col("ntp1").cast("long").alias("n_treat_post"),
        F.col("ncp0").cast("long").alias("n_ctrl_pre"),
        F.col("ncp1").cast("long").alias("n_ctrl_post"),
        ratio_round(F.col("stp0"), F.col("ntp0") * 100, 4).alias(
            "mean_treat_pre"
        ),
        ratio_round(F.col("stp1"), F.col("ntp1") * 100, 4).alias(
            "mean_treat_post"
        ),
        ratio_round(F.col("scp0"), F.col("ncp0") * 100, 4).alias(
            "mean_ctrl_pre"
        ),
        ratio_round(F.col("scp1"), F.col("ncp1") * 100, 4).alias(
            "mean_ctrl_post"
        ),
        F.when(ok, ratio_round(num, den, 4)).alias("did"),
    )


_register(
    "events_did",
    f"""
    WITH ev AS (
      SELECT ('0x' || substr(md5('did:' || user_id::VARCHAR), 1, 7))::BIGINT
               % 2 AS arm,
             CASE WHEN ts >= TIMESTAMP '{_CUPED_CUTOFF}' THEN 1
                  WHEN ts < TIMESTAMP '{_CUPED_CUTOFF}' THEN 0 END
               AS post,
             {cents_sql("value")} AS x
      FROM events
    ),
    cells AS (
      SELECT arm, post, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS s
      FROM ev GROUP BY 1, 2
    ),
    one AS (
      SELECT
        MAX(CASE WHEN arm = 1 AND post = 0 THEN n END) AS ntp0,
        MAX(CASE WHEN arm = 1 AND post = 1 THEN n END) AS ntp1,
        MAX(CASE WHEN arm = 0 AND post = 0 THEN n END) AS ncp0,
        MAX(CASE WHEN arm = 0 AND post = 1 THEN n END) AS ncp1,
        MAX(CASE WHEN arm = 1 AND post = 0 THEN s END) AS stp0,
        MAX(CASE WHEN arm = 1 AND post = 1 THEN s END) AS stp1,
        MAX(CASE WHEN arm = 0 AND post = 0 THEN s END) AS scp0,
        MAX(CASE WHEN arm = 0 AND post = 1 THEN s END) AS scp1
      FROM cells
    )
    SELECT CAST(ntp0 AS BIGINT) AS n_treat_pre,
           CAST(ntp1 AS BIGINT) AS n_treat_post,
           CAST(ncp0 AS BIGINT) AS n_ctrl_pre,
           CAST(ncp1 AS BIGINT) AS n_ctrl_post,
           {ratio_round_sql("stp0", "ntp0 * 100", 4)} AS mean_treat_pre,
           {ratio_round_sql("stp1", "ntp1 * 100", 4)} AS mean_treat_post,
           {ratio_round_sql("scp0", "ncp0 * 100", 4)} AS mean_ctrl_pre,
           {ratio_round_sql("scp1", "ncp1 * 100", 4)} AS mean_ctrl_post,
           CASE WHEN ntp0 IS NOT NULL AND ntp1 IS NOT NULL
                 AND ncp0 IS NOT NULL AND ncp1 IS NOT NULL THEN
             {ratio_round_sql(
                 "stp1 * ntp0 * ncp1 * ncp0 - stp0 * ntp1 * ncp1 * ncp0"
                 " - scp1 * ncp0 * ntp1 * ntp0 + scp0 * ncp1 * ntp1 * ntp0",
                 "ntp1 * ntp0 * ncp1 * ncp0 * 100", 4)}
           ELSE NULL END AS did
    FROM one
    """,
    doc="Difference-in-differences effect estimate [ext/eval/quotient]: "
    "md5 hash-split arms x pre/post periods, the four cell means "
    "combined on their common denominator as ONE exact integer ratio "
    "(DECIMAL/HUGEINT cell products); NULL on any empty cell.",
)(_events_did)


def _customer_tcloseness_audit(spark: SparkSession, sf: str) -> DataFrame:
    """Privacy audit: t-closeness of the customer table under the
    quasi-identifier (nation, market segment) with the ordinal
    sensitive attribute acctbal-quartile-bucket — the third rung after
    k-anonymity (``customer_kanonymity_audit``) and l-diversity (the
    ``l_distinct`` column here): a QI group leaks when its sensitive
    DISTRIBUTION sits far from the global one even if it is large and
    diverse. For ordinal attributes t-closeness is the earth mover's
    distance with unit spacing, EMD = Σ_{b<K} |CDF_g(b) − CDF(b)|.

    Exactness: the cross-multiplied form Σ|C_g·N − C·n_g| / (n_g·N) is
    exact integer arithmetic end-to-end (the Wasserstein scaffold's
    idiom on a 5-bucket ordinal grid); the t > 0.2 flag is ONE exact
    integer comparison via ratio_round_ge — the rounded column is
    never filtered (the expression-inlining rule).

    Scale shape: one dimension-table scan collapses map-side to the
    (QI, bucket) grid; densification is |QI groups| × 5 rows; the
    global bucket row and total are broadcast."""
    from pyspark.sql import Window

    from .operators.numeric import ratio_round_ge

    bucket = bucketize(
        F.col("c_acctbal"),
        [0.0, 2500.0, 5000.0, 7500.0],
        ["0_negative", "1_q1", "2_q2", "3_q3", "4_q4"],
    )
    c = _t(spark, sf, "customer").select(
        "c_nationkey", "c_mktsegment", bucket.alias("sb")
    )
    gb = (
        c.groupBy("c_nationkey", "c_mktsegment", "sb")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # consumers: dense join + globals
    )
    groups = gb.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").alias("ng"), F.countDistinct("sb").alias("l_distinct")
    )
    gl = gb.groupBy("sb").agg(F.sum("cnt").alias("gcnt"))
    ntot = gb.agg(F.sum("cnt").alias("nn"))
    buckets = gl.select("sb", "gcnt")
    dense = (
        groups.crossJoin(F.broadcast(buckets))
        .join(gb, ["c_nationkey", "c_mktsegment", "sb"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "ng",
            "l_distinct",
            "sb",
            "gcnt",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    wg = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("sb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = dense.crossJoin(F.broadcast(ntot)).select(
        "c_nationkey",
        "c_mktsegment",
        "ng",
        "l_distinct",
        "sb",
        "nn",
        F.sum("cnt").over(wg).alias("cg"),
        F.sum("gcnt").over(wg).alias("call"),
    )
    per = (
        cum.filter(F.col("sb") != "4_q4")  # EMD sums the K-1 inner CDFs
        .groupBy("c_nationkey", "c_mktsegment", "ng", "l_distinct", "nn")
        .agg(
            F.sum(
                F.abs(
                    F.col("cg") * F.col("nn") - F.col("call") * F.col("ng")
                )
            ).alias("num")
        )
    )
    return per.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("ng").cast("long").alias("n_group"),
        F.col("l_distinct").cast("long").alias("l_distinct"),
        ratio_round(F.col("num"), F.col("ng") * F.col("nn"), 4).alias(
            "t_closeness"
        ),
        ratio_round_ge(
            F.col("num"), F.col("ng") * F.col("nn"), 0.2, 4
        )
        .cast("long")
        .alias("at_risk"),
    ).orderBy("c_nationkey", "c_mktsegment")


_register(
    "customer_tcloseness_audit",
    f"""
    WITH c AS (
      SELECT c_nationkey, c_mktsegment,
             CASE WHEN c_acctbal < 0 THEN '0_negative'
                  WHEN c_acctbal < 2500 THEN '1_q1'
                  WHEN c_acctbal < 5000 THEN '2_q2'
                  WHEN c_acctbal < 7500 THEN '3_q3'
                  ELSE '4_q4' END AS sb
      FROM customer
    ),
    gb AS MATERIALIZED (
      SELECT c_nationkey, c_mktsegment, sb, COUNT(*) AS cnt
      FROM c GROUP BY 1, 2, 3
    ),
    groups AS (
      SELECT c_nationkey, c_mktsegment, SUM(cnt) AS ng,
             COUNT(DISTINCT sb) AS l_distinct
      FROM gb GROUP BY 1, 2
    ),
    gl AS (SELECT sb, SUM(cnt) AS gcnt FROM gb GROUP BY 1),
    dense AS (
      SELECT g.c_nationkey, g.c_mktsegment, g.ng, g.l_distinct,
             gl.sb, gl.gcnt, COALESCE(gb.cnt, 0) AS cnt
      FROM groups g CROSS JOIN gl
      LEFT JOIN gb ON gb.c_nationkey = g.c_nationkey
                  AND gb.c_mktsegment = g.c_mktsegment AND gb.sb = gl.sb
    ),
    cum AS (
      SELECT c_nationkey, c_mktsegment, ng, l_distinct, sb,
             (SELECT SUM(cnt) FROM gb) AS nn,
             SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                            ORDER BY sb ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cg,
             SUM(gcnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                             ORDER BY sb ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS call
      FROM dense
    ),
    per AS (
      SELECT c_nationkey, c_mktsegment, ng, l_distinct, nn,
             SUM(abs(CAST(cg AS HUGEINT) * nn
                     - CAST(call AS HUGEINT) * ng)) AS num
      FROM cum WHERE sb <> '4_q4'
      GROUP BY 1, 2, 3, 4, 5
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(ng AS BIGINT) AS n_group,
           CAST(l_distinct AS BIGINT) AS l_distinct,
           {ratio_round_sql("num", "ng * nn", 4)} AS t_closeness,
           CAST(num * 20000 >= ng * nn * 3999 AS BIGINT) AS at_risk
    FROM per
    ORDER BY c_nationkey, c_mktsegment
    """,
    doc="t-closeness + l-diversity privacy audit [ext/privacy]: exact "
    "ordinal EMD between each QI group's sensitive distribution and the "
    "global one (cross-multiplied CDF gaps on the 5-bucket grid), "
    "at-risk flag as one exact integer comparison (never filters the "
    "rounded column).",
)(_customer_tcloseness_audit)


def _events_dp_noisy_counts(spark: SparkSession, sf: str) -> DataFrame:
    """ε-differentially-private event-type counts via the two-sided
    geometric (discrete Laplace) mechanism: noise = G₁ − G₂ with
    Gᵢ ~ Geometric(1/2) ⇒ ε = ln 2 for a sensitivity-1 count query
    (Ghosh–Roughgarden–Sundararajan 2012, the universally optimal
    mechanism for counts).

    The geometric draws are leading-zero counts of two disjoint 28-bit
    md5 lanes of the group key (P(lz = g) = 2^-(g+1) — the HLL rho
    construction, exact integer arithmetic both engines). SEEDED
    determinism is the verification harness's property: production
    swaps the md5 key-seed for secret randomness; the mechanism, scale,
    and ε are unchanged. Plan: one map-side-combined groupBy + a
    per-group hash projection — |event_types| rows at any corpus size.
    """
    from .operators.dedup import md5_hash_pieces

    ev = _t(spark, sf, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    x1, x2 = md5_hash_pieces(
        F.concat(F.lit("dp:"), F.col("event_type"))
    )

    def _lz(w: Column) -> Column:
        return F.when(w == 0, F.lit(28)).otherwise(
            F.lit(28) - F.length(F.bin(w))
        )

    return counts.select(
        "event_type",
        (F.col("n") + _lz(x1) - _lz(x2)).cast("long").alias("noisy_count"),
        F.lit(0.693147).alias("epsilon"),
    ).orderBy("event_type")


_register(
    "events_dp_noisy_counts",
    """
    WITH c AS (SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1),
    g AS (
      SELECT event_type, n,
             ('0x' || substr(md5('dp:' || event_type), 1, 7))::BIGINT AS x1,
             ('0x' || substr(md5('dp:' || event_type), 8, 7))::BIGINT AS x2
      FROM c
    )
    SELECT event_type,
           CAST(n + (CASE WHEN x1 = 0 THEN 28
                          ELSE 28 - length(bin(x1)) END)
                  - (CASE WHEN x2 = 0 THEN 28
                          ELSE 28 - length(bin(x2)) END) AS BIGINT)
             AS noisy_count,
           CAST(0.693147 AS DOUBLE) AS epsilon
    FROM g ORDER BY 1
    """,
    doc="Differentially-private counts [ext/privacy]: two-sided "
    "geometric (discrete Laplace) noise at alpha=1/2 (epsilon = ln 2, "
    "sensitivity-1 counts) drawn as leading-zero counts of two disjoint "
    "28-bit md5 lanes — exact integer arithmetic both engines (the HLL "
    "rho idiom). Seeded determinism is a harness property; production "
    "swaps the seed for secret randomness. Completes the privacy "
    "family: PII scan -> k-anonymity -> l-diversity -> t-closeness -> "
    "GDPR delete impact -> DP release.",
)(_events_dp_noisy_counts)


_NEGSAMP_SLOTS = 6  # hash draws per node
_NEGSAMP_K = 3      # negatives kept per node


def _graph_negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    """Negative-edge sampling for link-prediction / GNN training over
    the 1998+ co-purchase graph: for every node, up to K verified
    NON-neighbors drawn deterministically — the standard 1:K
    positive:negative training-pair prep.

    Draws: slot s of node u proposes the node at index
    md5(u:s) mod |V| (the audited ``hash_bucket`` construction over a
    row_number index of the sorted node list); proposals that hit u
    itself or a real edge are discarded by an anti-join against the
    undirected edge set, and the first K surviving slots (slot order)
    are kept — so both engines keep the SAME negatives. Nodes can
    yield fewer than K when many draws collide; the count is the
    caller's signal to raise _NEGSAMP_SLOTS.

    Scale shape: the node index is `relational.ordered_dense_index`
    (the bucket-offset idiom, plan-asserted in test_plan_shapes.py),
    NOT a global ``ROW_NUMBER() OVER (ORDER BY node)`` (which
    funnels |V| rows through one task — VERDICT r6's one scale-killer):
    node ids bucket by ``node div 1024`` (buckets are order-aligned, so
    per-bucket rank + broadcast cumulative bucket offsets reproduce the
    EXACT global row number the oracle replays); the one |V|-row window
    partitions per bucket, and the only single-partition window runs
    over the |V|/1024-row bucket-count table. The proposal fan is
    |V|·slots rows, the anti-join shuffles on the oriented pair key,
    and the keep-K rank window partitions per node over ≤ slots rows."""
    from pyspark.sql import Window

    from .operators.graph import _und_deg
    from .operators.sampling import hash_bucket

    from .operators.graph import copurchase_pairs

    und, deg = _und_deg(copurchase_pairs(_lineitem_1998(spark, sf)))
    nodes = deg.select("node")
    ncount = nodes.agg(F.count(F.lit(1)).alias("nv"))
    idx = (
        _rel.ordered_dense_index(nodes, "node")
        .localCheckpoint(eager=False)  # two consumers: fan + partner lookup
    )
    fan = (
        idx.select("node")
        .crossJoin(F.broadcast(ncount))
        .select(
            "node",
            F.explode(
                F.array(*[F.lit(s) for s in range(_NEGSAMP_SLOTS)])
            ).alias("slot"),
            F.col("nv"),
        )
        .select(
            "node",
            "slot",
            hash_bucket(
                F.concat(
                    F.col("node").cast("string"),
                    F.lit(":"),
                    F.col("slot").cast("string"),
                ),
                "negsamp",
                F.col("nv"),
            ).alias("pidx"),
        )
    )
    partner = idx.select(F.col("idx").alias("pidx"), F.col("node").alias("neg"))
    props = (
        fan.join(partner, "pidx")
        .filter(F.col("neg") != F.col("node"))
        .select(
            "node",
            "slot",
            "neg",
            F.least(F.col("node"), F.col("neg")).alias("src"),
            F.greatest(F.col("node"), F.col("neg")).alias("dst"),
        )
    )
    clean = props.join(und, ["src", "dst"], "left_anti")
    wk = Window.partitionBy("node").orderBy("slot")
    return (
        clean.withColumn("rnk", F.row_number().over(wk))
        .filter(F.col("rnk") <= _NEGSAMP_K)
        .select(
            "node",
            F.col("rnk").cast("long").alias("rnk"),
            F.col("neg").alias("neg_partner"),
        )
        .orderBy("node", "rnk")
    )


_register(
    "graph_negative_samples",
    f"""
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
    {_UND_SQL},
    idx AS MATERIALIZED (
      SELECT node, ROW_NUMBER() OVER (ORDER BY node) - 1 AS idx
      FROM (SELECT node FROM (SELECT src AS node FROM und
                              UNION ALL SELECT dst FROM und)
            GROUP BY node)),
    fan AS (
      SELECT i.node, s.range AS slot,
             ('0x' || substr(md5('negsamp:' || i.node::VARCHAR || ':'
                                 || s.range::VARCHAR), 1, 7))::BIGINT
               % (SELECT COUNT(*) FROM idx) AS pidx
      FROM idx i CROSS JOIN range(0, {_NEGSAMP_SLOTS}) s),
    props AS (
      SELECT f.node, f.slot, p.node AS neg,
             LEAST(f.node, p.node) AS src,
             GREATEST(f.node, p.node) AS dst
      FROM fan f JOIN idx p ON p.idx = f.pidx
      WHERE p.node <> f.node),
    clean AS (
      SELECT props.* FROM props
      LEFT JOIN und ON und.src = props.src AND und.dst = props.dst
      WHERE und.src IS NULL)
    SELECT node,
           CAST(rnk AS BIGINT) AS rnk,
           neg AS neg_partner
    FROM (SELECT node, neg,
                 ROW_NUMBER() OVER (PARTITION BY node ORDER BY slot) AS rnk
          FROM clean)
    WHERE rnk <= {_NEGSAMP_K}
    ORDER BY node, rnk
    """,
    doc="Deterministic negative-edge sampling for link-prediction "
    "training [ext/analytics/graph]: md5 hash draws over a row_number "
    "node index, self/real-edge proposals discarded by anti-join, first "
    "K surviving slots kept — both engines keep identical negatives.",
)(_graph_negative_samples)


from .operators.quantize import (  # noqa: E402
    ROCCHIO_ALPHA as _ROCCHIO_ALPHA,
    ROCCHIO_BETA as _ROCCHIO_BETA,
    ROCCHIO_DENOM as _ROCCHIO_DENOM,
    ROCCHIO_K as _ROCCHIO_K,
    ROCCHIO_KPRF as _ROCCHIO_KPRF,
)

_register(
    "retrieval_rocchio_prf",
    f"""
    WITH {_QUANT_CTES},
    d1 AS (
      SELECT q.vec_id AS qid, x.vec_id,
             SUM(CAST((q.code - x.code) * (q.code - x.code) AS BIGINT)) AS d2
      FROM qcodes x JOIN qcodes q
        ON q.dim = x.dim AND q.vec_id < 10 AND x.vec_id <> q.vec_id
      GROUP BY 1, 2
    ),
    prf AS (
      SELECT qid, vec_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                         ORDER BY d2, vec_id) AS rn
            FROM d1)
      WHERE rn <= {_ROCCHIO_KPRF}
    ),
    v AS (
      SELECT p.qid, x.dim,
             {_ROCCHIO_ALPHA} * COUNT(*) * MIN(q.code)
               + {_ROCCHIO_BETA} * SUM(x.code) AS v,
             {_ROCCHIO_DENOM} * COUNT(*) AS s
      FROM prf p
      JOIN qcodes x ON x.vec_id = p.vec_id
      JOIN qcodes q ON q.vec_id = p.qid AND q.dim = x.dim
      GROUP BY 1, 2
    ),
    d2 AS (
      SELECT v.qid, x.vec_id,
             SUM(CAST((v.v - v.s * x.code) * (v.v - v.s * x.code)
                      AS BIGINT)) AS dist
      FROM qcodes x JOIN v ON v.dim = x.dim
      WHERE x.vec_id <> v.qid
      GROUP BY 1, 2
    )
    SELECT qid AS query_id, vec_id AS neighbor_id,
           CAST(dist AS BIGINT) AS dist, CAST(rnk AS INTEGER) AS rnk
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                       ORDER BY dist, vec_id) AS rnk
          FROM d2)
    WHERE rnk <= {_ROCCHIO_K}
    ORDER BY query_id, rnk
    """,
    doc="Rocchio pseudo-relevance-feedback retrieval "
    "[ext/similarity/retrieval]: stage-1 exact integer L2 top-3 over "
    "the int8 codes, expanded query v = 7·n·q + 3·Σ(prf) against a "
    "10·n-scaled corpus (L2 ranking is scale-invariant), stage-2 "
    "re-rank — no floats anywhere, vec_id tie-breaks, fully "
    "oracle-replayed including the quantization.",
)(
    lambda spark, sf: _quant.rocchio_prf_topk(
        _t(spark, sf, "embeddings"), F.col("vec_id") < 10
    )
)


def _events_conformal_interval(spark: SparkSession, sf: str) -> DataFrame:
    """Split-conformal prediction interval per event type (Vovk;
    Lei et al. — the distribution-free ML-eval standard): hash-split
    train/calibration/test 60/20/20, predictor = per-type lower median
    learned on train, radius = the ⌈0.9·(n_cal+1)⌉-th smallest
    calibration |residual| (the finite-sample 90% guarantee), coverage
    reported on held-out test.

    Exactness: values and residuals live on the bounded cents grid, so
    the median and the radius are exact grid order statistics located
    by cumulative counts over (type × grid) — never a corpus-row rank
    window; the ceil rank is exact integer arithmetic
    ((9·(n+1) + 9) div 10) and coverage is one ratio_round.

    Scale shape: one scan collapses map-side to (split-class × type ×
    grid); every window runs over that bounded grid; the per-type
    median/radius rows broadcast onto the test aggregate."""
    from pyspark.sql import Window

    from .operators.sampling import hash_bucket

    ev = (
        _t(spark, sf, "events")
        # NULL measurements excluded on BOTH engines (see
        # events_value_auc; r8 NULL-injection audit).
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            cents(F.col("value")).alias("s"),
            hash_bucket(F.col("event_id"), "conformal", 10).alias("b"),
        )
        .localCheckpoint(eager=False)  # consumers: train/cal/test
    )
    wt = (
        Window.partitionBy("event_type")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tg = (
        ev.filter(F.col("b") <= 5)
        .groupBy("event_type", "s")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # two consumers: tn + median window
    )
    tn = tg.groupBy("event_type").agg(F.sum("cnt").alias("n_train"))
    kmed = (
        ((F.col("n_train") + 1) - (F.col("n_train") + 1) % 2) / 2
    ).cast("long")
    med = (
        tg.withColumn("cum", F.sum("cnt").over(wt))
        .join(F.broadcast(tn), "event_type")
        .filter(F.col("cum") >= kmed)
        .groupBy("event_type", "n_train")
        .agg(F.min("s").alias("med"))
        .localCheckpoint(eager=False)  # consumers: cal + test
    )
    wr = (
        Window.partitionBy("event_type")
        .orderBy("r")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cg = (
        ev.filter(F.col("b").isin(6, 7))
        .join(F.broadcast(med.select("event_type", "med")), "event_type")
        .select("event_type", F.abs(F.col("s") - F.col("med")).alias("r"))
        .groupBy("event_type", "r")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=False)  # two consumers: cn + radius window
    )
    cn = cg.groupBy("event_type").agg(F.sum("cnt").alias("n_cal"))
    kcal = (
        (
            (9 * (F.col("n_cal") + 1) + 9)
            - (9 * (F.col("n_cal") + 1) + 9) % 10
        )
        / 10
    ).cast("long")
    rad = (
        cg.withColumn("cum", F.sum("cnt").over(wr))
        .join(F.broadcast(cn), "event_type")
        .filter(F.col("cum") >= F.least(kcal, F.col("n_cal")))
        .groupBy("event_type", "n_cal")
        .agg(F.min("r").alias("radius"))
    )
    test = (
        ev.filter(F.col("b") >= 8)
        .join(F.broadcast(med.select("event_type", "med")), "event_type")
        .join(F.broadcast(rad), "event_type")
        .groupBy("event_type", "n_cal", "radius")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.sum(
                (
                    F.abs(F.col("s") - F.col("med")) <= F.col("radius")
                ).cast("long")
            ).alias("covered"),
        )
    )
    return (
        test.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.col("n_train").cast("long").alias("n_train"),
            F.col("n_cal").cast("long").alias("n_cal"),
            F.col("n_test").cast("long").alias("n_test"),
            F.col("med").cast("long").alias("median_cents"),
            F.col("radius").cast("long").alias("radius_cents"),
            ratio_round(F.col("covered"), F.col("n_test"), 4).alias(
                "coverage"
            ),
        )
        .orderBy("event_type")
    )


_register(
    "events_conformal_interval",
    f"""
    WITH ev AS MATERIALIZED (
      SELECT event_type, {cents_sql("value")} AS s,
             ('0x' || substr(md5('conformal:' || event_id::VARCHAR), 1, 7))
               ::BIGINT % 10 AS b
      FROM events WHERE value IS NOT NULL
    ),
    tg AS (
      SELECT event_type, s, COUNT(*) AS cnt FROM ev WHERE b <= 5
      GROUP BY 1, 2
    ),
    tn AS (SELECT event_type, SUM(cnt) AS n_train FROM tg GROUP BY 1),
    med AS MATERIALIZED (
      SELECT event_type, n_train, MIN(s) AS med
      FROM (SELECT tg.event_type, tg.s, tn.n_train,
                   SUM(cnt) OVER (PARTITION BY tg.event_type ORDER BY s
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
            FROM tg JOIN tn USING (event_type))
      WHERE cum >= (n_train + 1) // 2
      GROUP BY 1, 2
    ),
    cg AS (
      SELECT ev.event_type, abs(ev.s - med.med) AS r, COUNT(*) AS cnt
      FROM ev JOIN med USING (event_type) WHERE b IN (6, 7)
      GROUP BY 1, 2
    ),
    cn AS (SELECT event_type, SUM(cnt) AS n_cal FROM cg GROUP BY 1),
    rad AS (
      SELECT event_type, n_cal, MIN(r) AS radius
      FROM (SELECT cg.event_type, cg.r, cn.n_cal,
                   SUM(cnt) OVER (PARTITION BY cg.event_type ORDER BY r
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS cum
            FROM cg JOIN cn USING (event_type))
      WHERE cum >= LEAST((9 * (n_cal + 1) + 9) // 10, n_cal)
      GROUP BY 1, 2
    ),
    test AS (
      SELECT ev.event_type, rad.n_cal, rad.radius,
             COUNT(*) AS n_test,
             SUM(CASE WHEN abs(ev.s - med.med) <= rad.radius
                      THEN 1 ELSE 0 END) AS covered
      FROM ev JOIN med USING (event_type) JOIN rad USING (event_type)
      WHERE b >= 8
      GROUP BY 1, 2, 3
    )
    SELECT test.event_type,
           CAST(med.n_train AS BIGINT) AS n_train,
           CAST(test.n_cal AS BIGINT) AS n_cal,
           CAST(test.n_test AS BIGINT) AS n_test,
           CAST(med.med AS BIGINT) AS median_cents,
           CAST(test.radius AS BIGINT) AS radius_cents,
           {ratio_round_sql("covered", "n_test", 4)} AS coverage
    FROM test JOIN med USING (event_type)
    ORDER BY test.event_type
    """,
    doc="Split-conformal 90% prediction interval per event type "
    "[ext/eval/quotient]: hash-split 60/20/20, per-type lower-median "
    "predictor and the ceil(0.9*(n+1))-th calibration residual located "
    "as exact order statistics on the bounded cents grid (never a "
    "corpus-row rank window), held-out coverage via ratio_round.",
)(_events_conformal_interval)


def _classifier_ece(spark: SparkSession, sf: str) -> DataFrame:
    """Expected + maximum calibration error of the hashed quality
    classifier, computed over the PUBLISHED reliability table
    (``classifier_calibration_bins``) — the one-number summary a model
    card quotes next to the reliability diagram:
    ECE = Σ_b (n_b/N)·|pos_rate_b − mean_pred_b|, MCE = max_b |…|.

    Exactness: the bin table's rates are 1e-4-grid values by
    construction, recovered as exact integer units via ROUND(x·10⁴)
    (the FDR-recovery trick), so every |gap| is an integer, ECE is ONE
    ratio_round over Σ n_b·|gap|, and MCE is an integer max (smallest
    bin on ties) divided exactly by the grid. Both engines consume
    their own side of the SAME bins entry — the composition keeps the
    underlying classifier/label SQL in one audited copy.

    Scale shape: everything is |bins| = 10 rows."""
    bins = _classifier_calibration_bins(spark, sf)
    u = bins.select(
        "bin",
        "n_docs",
        F.abs(
            F.round(F.col("pos_rate") * 10000).cast("long")
            - F.round(F.col("mean_pred") * 10000).cast("long")
        ).alias("gap_u"),
    )
    return u.agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        ratio_round(
            F.sum(F.col("n_docs") * F.col("gap_u")),
            F.sum("n_docs") * 10000,
            6,
        ).alias("ece"),
        (
            F.max(F.struct(F.col("gap_u"), (-F.col("bin")).alias("nb")))[
                "gap_u"
            ].cast("double")
            / F.lit(1e4)
        ).alias("mce"),
        (-F.max(F.struct(F.col("gap_u"), (-F.col("bin")).alias("nb")))["nb"])
        .cast("long")
        .alias("mce_bin"),
    )


_register(
    "classifier_ece",
    f"""
    WITH bins AS ({REGISTRY["classifier_calibration_bins"].oracle}),
    u AS (
      SELECT bin, n_docs,
             abs(CAST(ROUND(pos_rate * 10000) AS BIGINT)
                 - CAST(ROUND(mean_pred * 10000) AS BIGINT)) AS gap_u
      FROM bins
    )
    SELECT CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           {ratio_round_sql("SUM(n_docs * gap_u)", "SUM(n_docs) * 10000", 6)}
             AS ece,
           CAST(MAX(gap_u) AS DOUBLE) / 1e4 AS mce,
           CAST(MIN(bin) FILTER (WHERE gap_u = (SELECT MAX(gap_u) FROM u))
                AS BIGINT) AS mce_bin
    FROM u
    """,
    doc="Expected + maximum calibration error over the published "
    "reliability bins [ext/eval/quotient]: 1e-4-grid rates recovered "
    "as exact integer units, ECE = one ratio_round over the weighted "
    "gap sum, MCE an integer max with smallest-bin tie-break; both "
    "engines consume their own side of the bins entry (one audited "
    "copy).",
)(_classifier_ece)


def _parts_price_elasticity(spark: SparkSession, sf: str) -> DataFrame:
    """Log-log price elasticity of demand per part category (the first
    word of p_type): OLS slope of ln(quantity) on ln(unit price) over
    line items — the classic econometric readout (slope ≈ %Δqty per
    %Δprice).

    Exactness: both regressors are transcendental outputs of exact
    cents/integer inputs (off-grid per the WoE/PMI precedent), rounded
    to 1e-6 INTEGER units per row; all five OLS moments are then exact
    integer sums in DECIMAL(38,0)/HUGEINT (Σx² of 1e7-unit values
    passes 2^63 near 1e5 rows), and the slope
    (N·Σxy − Σx·Σy) / (N·Σx² − (Σx)²) is ONE ratio_round. Degenerate
    groups (zero price variance) emit NULL.

    Scale shape: one lineitem scan collapses map-side to the
    |categories| grid; the unit-price division is a bit-identical
    IEEE double op of exact integers on both engines."""
    li = _t(spark, sf, "lineitem").join(
        _t(spark, sf, "part"), F.col("l_partkey") == F.col("p_partkey")
    )
    cat = F.split(F.col("p_type"), " ")[0]
    price_cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    qty = F.round(F.col("l_quantity")).cast("long")
    x = F.round(
        F.log(
            price_cents.cast("double") / (qty * 100).cast("double")
        )
        * F.lit(1e6)
    ).cast("long")
    y = F.round(F.log(qty.cast("double")) * F.lit(1e6)).cast("long")
    dec = "decimal(38,0)"
    # log-log domain: only rows with positive quantity AND positive
    # price can enter the regression — a zero quantity is an ANSI
    # DIVIDE_BY_ZERO, a zero price is ln(0) = -inf, a negative return
    # row is ln(<0) = NaN, and a boundary-nulled NaN measure fails the
    # predicate on both engines (r8 TPC-H degenerate probe).
    base = li.filter((qty > 0) & (price_cents > 0)).select(
        cat.alias("category"), x.alias("x"), y.alias("y")
    )
    g = base.groupBy("category").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        # cast BEFORE the product: per-row squares of 1e6-unit log
        # regressors can pass BIGINT under ANSI (the DuckDB twin widens
        # one operand to HUGEINT first for the same reason)
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return g.select(
        "category",
        F.col("n").cast("long").alias("n_lineitems"),
        F.when(den > 0, ratio_round(num, den, 6)).alias("elasticity"),
    ).orderBy("category")


_register(
    "parts_price_elasticity",
    f"""
    WITH base AS (
      SELECT string_split(p_type, ' ')[1] AS category,
             CAST(ROUND(ln(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                                AS DOUBLE)
                           / CAST(CAST(ROUND(l_quantity) AS BIGINT) * 100
                                  AS DOUBLE)) * 1e6) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(CAST(ROUND(l_quantity) AS BIGINT)
                                AS DOUBLE)) * 1e6) AS BIGINT) AS y
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE CAST(ROUND(l_quantity) AS BIGINT) > 0
        AND CAST(ROUND(l_extendedprice * 100) AS BIGINT) > 0
    ),
    g AS (
      SELECT category, CAST(COUNT(*) AS HUGEINT) AS n,
             SUM(CAST(x AS HUGEINT)) AS sx,
             SUM(CAST(y AS HUGEINT)) AS sy,
             SUM(CAST(x AS HUGEINT) * x) AS sxx,
             SUM(CAST(x AS HUGEINT) * y) AS sxy
      FROM base GROUP BY 1
    )
    SELECT category,
           CAST(n AS BIGINT) AS n_lineitems,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             {ratio_round_sql("n * sxy - sx * sy", "n * sxx - sx * sx", 6)}
           ELSE NULL END AS elasticity
    FROM g
    ORDER BY category
    """,
    doc="Log-log price elasticity per part category [ext/analytics]: "
    "regressors are 1e-6-unit-rounded transcendentals of exact integer "
    "inputs, OLS moments summed exactly in DECIMAL/HUGEINT, slope as "
    "one ratio_round; one scan collapsing to the category grid.",
)(_parts_price_elasticity)


def _events_top_values_salted(spark: SparkSession, sf: str) -> DataFrame:
    """Top-5 events by value per event type, computed with the SALTED
    two-level top-k (``relational.top_k_per_group_salted``) — the
    hub-safe pattern the one-level rank windows document as their
    100 TB upgrade, registered so the driver proves its EXACT
    equivalence every round: the oracle is the plain one-level
    ROW_NUMBER SQL.

    Scale shape: level 1 ranks within (type, salt) partitions (~1/16
    of a type each), level 2 ranks ≤ 5·16 survivors per type — a hot
    event type never funnels its raw rows through one WindowExec
    task."""
    from .operators.relational import top_k_per_group_salted

    ev = _t(spark, sf, "events").select(
        "event_type", "event_id", cents(F.col("value")).alias("value_cents")
    )
    return top_k_per_group_salted(
        ev,
        ["event_type"],
        [F.desc("value_cents"), F.asc("event_id")],
        salt_src=F.col("event_id"),
    ).select(
        "event_type",
        F.col("rnk").cast("long").alias("rnk"),
        "event_id",
        F.col("value_cents").cast("long").alias("value_cents"),
    ).orderBy("event_type", "rnk")


_register(
    "events_top_values_salted",
    f"""
    SELECT event_type, CAST(rnk AS BIGINT) AS rnk, event_id,
           CAST(value_cents AS BIGINT) AS value_cents
    FROM (SELECT event_type, event_id,
                 {cents_sql("value")} AS value_cents,
                 ROW_NUMBER() OVER (
                   PARTITION BY event_type
                   ORDER BY {cents_sql("value")} DESC, event_id) AS rnk
          FROM events)
    WHERE rnk <= {_rel.SALTED_TOP_K}
    ORDER BY event_type, rnk
    """,
    doc="Top-5 events by value per type via the SALTED two-level top-k "
    "[ext/relational/scale]: per-(group, salt) rank then merge of "
    "k*salts survivors - exactly equivalent to the one-level window "
    "(the oracle IS the plain ROW_NUMBER SQL), hub keys never funnel "
    "raw rows through one task.",
)(_events_top_values_salted)


#: RBO@5 (p = 0.9) suffix weights: a pair matched at depth m (= the max
#: of its two ranks) contributes W[m] = Σ_{d=m..5} 9^{d-1}·10^{5-d}·(60/d)
#: to the numerator over the common denominator 10^5·60 (the (1−p)=1/10
#: factor folded in) — RBO_trunc as ONE exact integer ratio.
_RBO_W = (1220082, 620082, 350082, 188082, 78732)
_RBO_DEN = 6000000


def _retrieval_rbo_exact_vs_ivf(spark: SparkSession, sf: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the exact
    brute-force and the IVF top-5 rankings, per query — the standard
    top-weighted "how much did the ANN shortcut change the ranking"
    eval, sharper than plain recall because disagreement near rank 1
    costs more than at rank 5.

    Exactness: with p = 9/10 and depth 5, every RBO term is rational
    with denominator 10⁵·60, so the truncated RBO is ONE exact integer
    ratio — each matched neighbor contributes the precomputed suffix
    weight of its max rank (_RBO_W) and ratio_round does the single
    division. Queries with disjoint rankings emit 0 exactly.

    Scale shape: both ranked lists are |queries|·5 rows; everything
    here is joins and aggregates over those tiny tables (the two
    retrieval subplans dominate, and each is the already-audited
    entry)."""
    a = (
        REGISTRY["similarity_topk_bruteforce"]
        .builder(spark, sf)
        .select("query_id", "neighbor_id", F.col("rnk").alias("ra"))
        .localCheckpoint(eager=False)  # two consumers: join + query list
    )
    b = REGISTRY["similarity_topk_ivf"].builder(spark, sf).select(
        "query_id", "neighbor_id", F.col("rnk").alias("rb")
    )
    m = F.greatest(F.col("ra"), F.col("rb"))
    w = F.lit(None).cast("long")
    for d in range(len(_RBO_W), 0, -1):
        w = F.when(m == d, F.lit(_RBO_W[d - 1])).otherwise(w)
    per = (
        a.join(b, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.sum(w).alias("num"),
        )
    )
    qs = a.select("query_id").distinct()
    return (
        qs.join(per, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0))
            .cast("long")
            .alias("n_common"),
            ratio_round(
                F.coalesce(F.col("num"), F.lit(0)), F.lit(_RBO_DEN), 6
            ).alias("rbo"),
        )
        .orderBy("query_id")
    )


_register(
    "retrieval_rbo_exact_vs_ivf",
    f"""
    WITH a AS ({REGISTRY["similarity_topk_bruteforce"].oracle}),
    b AS ({REGISTRY["similarity_topk_ivf"].oracle}),
    j AS (
      SELECT a.query_id,
             GREATEST(a.rnk, b.rnk) AS m
      FROM a JOIN b USING (query_id, neighbor_id)
    ),
    per AS (
      SELECT query_id, COUNT(*) AS n_common,
             SUM(CASE GREATEST(m, 1)
                   WHEN 1 THEN {_RBO_W[0]}
                   WHEN 2 THEN {_RBO_W[1]}
                   WHEN 3 THEN {_RBO_W[2]}
                   WHEN 4 THEN {_RBO_W[3]}
                   WHEN 5 THEN {_RBO_W[4]}
                 END) AS num
      FROM j GROUP BY 1
    )
    SELECT q.query_id,
           CAST(COALESCE(per.n_common, 0) AS BIGINT) AS n_common,
           {ratio_round_sql("COALESCE(per.num, 0)", str(_RBO_DEN), 6)} AS rbo
    FROM (SELECT DISTINCT query_id FROM a) q
    LEFT JOIN per USING (query_id)
    ORDER BY q.query_id
    """,
    doc="Rank-biased overlap (p=0.9, depth 5) between the exact and IVF "
    "rankings per query [ext/similarity/eval/quotient]: every RBO term "
    "is rational over 10^5*60, so truncated RBO is one exact integer "
    "ratio via precomputed suffix weights; disjoint rankings emit 0.",
)(_retrieval_rbo_exact_vs_ivf)


def _parts_xyz_classes(spark: SparkSession, sf: str) -> DataFrame:
    """XYZ demand-variability classification per part — the companion
    axis of ``parts_abc_classes`` in the classic ABC-XYZ inventory
    matrix: X = steady demand (cv² < 0.25), Y = variable (cv² < 1),
    Z = erratic, over QUARTERLY shipped-quantity series including the
    zero-demand quarters of the global horizon. Quarterly, not weekly:
    TPC-H demand is sparse (a part ships in ~30 of ~360 weeks), so
    weekly cv² ≈ n/k − 1 ≥ 8 classed EVERYTHING Z — a constant
    classifier whose compare branches no sweep could exercise
    (review-caught); quarters give a real Y/Z mix at every SF, and the
    X branch (empty on this fixture by construction) is pinned by the
    ``xyz_class_col`` unit test.

    Exactness: with S = Σ quarterly qty and Q = Σ (quarterly qty)²
    over n horizon quarters (absent quarters contribute exact zeros),
    cv² = (n·Q − S²)/S² is one exact integer ratio — reported via
    ratio_round, classified by ``relational.xyz_class_col``'s
    cross-multiplied integer compares, never by filtering the rounded
    value. Zero-demand parts class Z with NULL cv².

    Scale shape: ONE lineitem scan collapses map-side to the
    (part, quarter) grid, then to |parts| rows carrying per-part
    min/max quarter — the global horizon derives from THAT small
    table, so the grid has a single consumer and only the |parts|-row
    rollup is checkpointed (r8: checkpointing the grid itself cost
    1.6x on the driver bench). Products stay < 2^63 for S up to ~3e9;
    lift to DECIMAL past that."""
    from .operators.relational import xyz_class_col

    li = _t(spark, sf, "lineitem").select(
        "l_partkey",
        F.floor(F.unix_millis("l_shipdate") / F.lit(7862400000))
        .cast("long")
        .alias("wk"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    )
    # Near-unique keys (|parts·quarters| groups ≈ 0.6x input rows):
    # explicit keyed repartition first — the 3-input-split scan's
    # map-side partial agg built ~370k-entry hash maps in 3 straggling
    # tasks (1.23 s of the 1.9 s total; post-shuffle it is 32-way and
    # reduces at colocated keys). Measured 1.9 -> 0.89 s at sf0.1 (r8).
    par = spark.sparkContext.defaultParallelism
    pw = (
        li.repartition(par, "l_partkey", "wk")
        .groupBy("l_partkey", "wk")
        .agg(F.sum("qty").alias("wq"))
    )
    # Carry per-part min/max quarter through the rollup so the global
    # horizon derives from the |parts|-row table — pw then has ONE
    # consumer (no checkpoint of the ~|parts·quarters| grid; the r7
    # checkpoint sat at the wrong level and cost 1.6x on the driver
    # bench), and the small multi-consumer table is the one pinned.
    per_part = (
        pw.groupBy("l_partkey")
        .agg(
            F.sum("wq").alias("s"),
            F.sum(F.col("wq") * F.col("wq")).alias("q"),
            F.min("wk").alias("min_wk"),
            F.max("wk").alias("max_wk"),
        )
        .localCheckpoint(eager=False)  # two consumers: horizon + select
    )
    horizon = per_part.agg(
        (F.max("max_wk") - F.min("min_wk") + 1).alias("n_weeks")
    )
    per = per_part.crossJoin(F.broadcast(horizon))
    num = F.col("n_weeks") * F.col("q") - F.col("s") * F.col("s")
    den = F.col("s") * F.col("s")
    return per.select(
        "l_partkey",
        F.col("n_weeks").cast("long").alias("n_quarters"),
        F.col("s").cast("long").alias("total_qty"),
        F.when(F.col("s") > 0, ratio_round(num, den, 4)).alias("cv2"),
        xyz_class_col(num, den, F.col("s")).alias("xyz_class"),
    ).orderBy("l_partkey")


_register(
    "parts_xyz_classes",
    f"""
    WITH li AS (
      SELECT l_partkey,
             epoch_ms(l_shipdate) // 7862400000 AS wk,
             CAST(ROUND(l_quantity) AS BIGINT) AS qty
      FROM lineitem
    ),
    pw AS MATERIALIZED (
      SELECT l_partkey, wk, SUM(qty) AS wq FROM li GROUP BY 1, 2
    ),
    horizon AS (SELECT MAX(wk) - MIN(wk) + 1 AS n_weeks FROM pw),
    per AS (
      SELECT l_partkey, SUM(wq) AS s, SUM(wq * wq) AS q
      FROM pw GROUP BY 1
    )
    SELECT l_partkey,
           CAST(n_weeks AS BIGINT) AS n_quarters,
           CAST(s AS BIGINT) AS total_qty,
           CASE WHEN s > 0 THEN
             {ratio_round_sql("n_weeks * q - s * s", "s * s", 4)}
           ELSE NULL END AS cv2,
           CASE WHEN s <= 0 THEN 'Z'
                WHEN 4 * (n_weeks * q - s * s) < s * s THEN 'X'
                WHEN n_weeks * q - s * s < s * s THEN 'Y'
                ELSE 'Z' END AS xyz_class
    FROM per CROSS JOIN horizon
    ORDER BY l_partkey
    """,
    doc="XYZ demand-variability classes per part [ext/analytics]: "
    "cv^2 = (n*Q - S^2)/S^2 over the QUARTERLY demand series including "
    "zero quarters (weekly classed everything Z on sparse TPC-H "
    "demand), one exact integer ratio; classes by cross-multiplied "
    "integer compares; the ABC companion axis.",
)(_parts_xyz_classes)


_MARKOV_ITERS = 4


def _events_markov_stationary(spark: SparkSession, sf: str) -> DataFrame:
    """Approximate stationary distribution of the per-user event-type
    Markov chain (π ← πP, 4 unrolled power iterations) — where the
    user journey settles, the steady-state companion of
    ``event_transition_matrix``.

    Exactness: the integer-PageRank idiom on the transition counts —
    π lives in 1e12-scale units, each step's contribution is the exact
    floor division (πᵢ·c_ij) div rᵢ (``graph._idiv``), so a fixed
    iteration count is bit-identical cross-engine and replays as
    unrolled MATERIALIZED CTEs. Floor drops ≤ 1 unit per (i,j) per
    round. States without outgoing transitions keep their mass (no
    dangling redistribution, the PageRank stance).

    Scale shape: transition counts collapse map-side to the
    |types|² grid off one lag window (per-user partitions, the
    user_event_sequences precedent); every iteration is a join over
    that tiny grid."""
    from pyspark.sql import Window

    from .operators.graph import SCALE, _idiv

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = _t(spark, sf, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    pairs = ev.select(
        F.lag("event_type").over(w).alias("src"),
        F.col("event_type").alias("dst"),
    ).filter(F.col("src").isNotNull())
    trans = (
        pairs.groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)  # consumers: row totals + each iter
    )
    rt = (
        trans.groupBy("src")
        .agg(F.sum("c").alias("r"))
        .localCheckpoint(eager=False)  # consumers: tm + sink derivation
    )
    tm = trans.join(rt, "src").localCheckpoint(eager=False)
    states = (
        trans.select(F.col("src").alias("state"))
        .union(trans.select(F.col("dst").alias("state")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    ns = states.agg(F.count(F.lit(1)).alias("n"))
    pi = states.crossJoin(F.broadcast(ns)).select(
        "state", _idiv(F.lit(SCALE), F.col("n")).alias("pi")
    ).localCheckpoint(eager=False)
    # iteration-invariant: the sink states (no outgoing row) keep their
    # mass each round — derive the set ONCE, not per iteration
    sinks = states.join(
        rt.select(F.col("src").alias("state")), "state", "left_anti"
    ).localCheckpoint(eager=False)
    for _ in range(_MARKOV_ITERS):
        moved = (
            tm.join(pi, tm["src"] == pi["state"])
            .select(
                F.col("dst").alias("state"),
                # product in DECIMAL: pi approaches SCALE=1e12 on
                # absorbing states, so a LONG pi*c wraps silently once a
                # pair count passes ~9.2e6 (the oracle's HUGEINT would
                # diverge, not co-wrap) — the hits_bipartite precedent
                _idiv(
                    F.col("pi").cast("decimal(38,0)") * F.col("c"),
                    F.col("r"),
                ).alias("m"),
            )
            .groupBy("state")
            .agg(F.sum("m").alias("inflow"))
        )
        keep = sinks.join(pi, "state").select(
            "state", F.col("pi").alias("kept")
        )
        pi = (
            states.join(moved, "state", "left")
            .join(keep, "state", "left")
            .select(
                "state",
                (
                    F.coalesce(F.col("inflow"), F.lit(0))
                    + F.coalesce(F.col("kept"), F.lit(0))
                ).alias("pi"),
            )
            .localCheckpoint(eager=False)
        )
    return pi.select(
        F.col("state").alias("event_type"),
        F.col("pi").cast("long").alias("pi_scaled"),
        ratio_round(F.col("pi"), F.lit(10**12), 6).alias("pi"),
    ).orderBy("event_type")


def _markov_oracle_sql(iters: int) -> str:
    from .operators.graph import SCALE

    ctes = [
        """pairs AS MATERIALIZED (
      SELECT src, event_type AS dst
      FROM (SELECT user_id, event_type,
                   LAG(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS src
            FROM events)
      WHERE src IS NOT NULL)""",
        """trans AS MATERIALIZED (
      SELECT src, dst, COUNT(*) AS c FROM pairs GROUP BY 1, 2)""",
        """rt AS MATERIALIZED (SELECT src, SUM(c) AS r FROM trans GROUP BY 1)""",
        """states AS MATERIALIZED (
      SELECT DISTINCT state FROM (
        SELECT src AS state FROM trans
        UNION ALL SELECT dst FROM trans))""",
        f"""p0 AS MATERIALIZED (
      SELECT state,
             CAST({SCALE} AS HUGEINT)
               // (SELECT COUNT(*) FROM states) AS pi
      FROM states)""",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""m{i} AS MATERIALIZED (
      SELECT t.dst AS state, SUM((p.pi * t.c) // rt.r) AS inflow
      FROM trans t
      JOIN p{i - 1} p ON p.state = t.src
      JOIN rt ON rt.src = t.src
      GROUP BY 1)"""
        )
        ctes.append(
            f"""p{i} AS MATERIALIZED (
      SELECT s.state,
             COALESCE(m.inflow, 0)
             + CASE WHEN s.state NOT IN (SELECT src FROM rt)
                    THEN p.pi ELSE 0 END AS pi
      FROM states s
      LEFT JOIN m{i} m ON m.state = s.state
      JOIN p{i - 1} p ON p.state = s.state)"""
        )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT state AS event_type,
           CAST(pi AS BIGINT) AS pi_scaled,
           {ratio_round_sql("pi", str(10**12), 6)} AS pi
    FROM p{iters}
    ORDER BY event_type
    """
    )


_register(
    "events_markov_stationary",
    _markov_oracle_sql(_MARKOV_ITERS),
    doc=f"Stationary distribution of the event-type Markov chain "
    f"[ext/analytics]: {_MARKOV_ITERS} unrolled integer power "
    "iterations in 1e12 units with exact floor division (the integer "
    "PageRank idiom; sink states keep their mass); oracle = unrolled "
    "MATERIALIZED CTEs.",
)(_events_markov_stationary)


# --------------------------------------------------------------------------
# Round-7 additions: exact-substring-style dedup (longest shared token run)
# and label-propagation communities.
# --------------------------------------------------------------------------

_LCR_K = 5        # tokens per positional gram
_LCR_MAXDF = 20   # hot-gram doc-frequency cap (boilerplate guard)
_LCR_MIN_RUN = 8  # minimum shared token run to report (= 4 grams + K - 1)


def _dedup_longest_common_run(spark: SparkSession, sf: str) -> DataFrame:
    """Longest shared verbatim token run per document pair — the
    token-granular form of exact-substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": long
    verbatim overlaps are the memorization signal pair-level Jaccard
    misses). A shared run of R >= K consecutive tokens is exactly a run
    of R-K+1 consecutive positional K-gram matches on one (pos_a -
    pos_b) diagonal, so the operator is: positional gram hashes ->
    equi-join on the hash -> per-(pair, diagonal) gaps-and-islands ->
    max island.

    Exactness: gram hashes are 60-bit md5 pieces both engines replay —
    60 bits (the SimHash word-hash width) keep the expected number of
    colliding gram pairs negligible even at 1e8 distinct grams
    (birthday over 2^60), where the 28-bit piece used by the MinHash
    lanes would collide hundreds of times by 1e6 grams and could extend
    a reported run past the true one (r7 review catch); islands
    arithmetic (pos - ROW_NUMBER over the diagonal) is
    pure integers; (pa, pb) match rows are unique (one gram per
    position), so the island window's ORDER BY pa has no ties.

    Scale shape: candidate generation is keyed on the GRAM HASH, never
    all-pairs — grams are prefiltered to doc-frequency [2, 20] (df=1
    grams cannot match; df>20 grams are boilerplate, the hot-key cap
    that bounds the join's fan-out, same role as the PPJoin hot-block
    cap); the islands window partitions per (pair, diagonal), bounded
    by document length; everything downstream of the match join is
    |matches|-row aggregation with map-side combine."""
    from pyspark.sql import Window

    docs = _t(spark, sf, "documents")
    grams = _doc_kgrams(spark, docs, _LCR_K)
    gh = F.conv(
        F.substring(F.md5(F.concat(F.lit("lcr:"), F.col("sh"))), 1, 15),
        16,
        10,
    ).cast("long")
    g = grams.select("doc_id", "pos", gh.alias("gh")).localCheckpoint(
        eager=False
    )  # two consumers: the df prefilter and the match join
    shared = (
        g.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= _LCR_MAXDF))
        .select("gh")
    )
    gk = g.join(shared, "gh")
    a, b = gk.alias("a"), gk.alias("b")
    m = (
        a.join(
            b,
            (F.col("a.gh") == F.col("b.gh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
        )
    )
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    wr = Window.partitionBy(
        "doc_a", "doc_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    runs = (
        m.withColumn("isl", F.col("pa") - F.row_number().over(wr))
        .groupBy("doc_a", "doc_b", diag, F.col("isl"))
        .agg(F.count(F.lit(1)).alias("run_grams"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_grams") + F.lit(_LCR_K - 1))
            .cast("long")
            .alias("longest_token_run"),
            F.sum("run_grams").cast("long").alias("n_shared_gram_hits"),
        )
        .filter(F.col("longest_token_run") >= _LCR_MIN_RUN)
        .orderBy("doc_a", "doc_b")
    )


_LCR_GRAM_SQL = " || ' ' || ".join(
    f"w[i+{j}]" if j else "w[i]" for j in range(_LCR_K)
)

_register(
    "dedup_longest_common_run",
    f"""
    WITH norm AS (SELECT doc_id, {_DEDUP_NORM_SQL.format(col="text")} AS t
                  FROM documents),
    g AS MATERIALIZED (
      SELECT doc_id, i AS pos,
             ('0x' || substr(md5('lcr:' || {_LCR_GRAM_SQL}), 1, 15))::BIGINT
               AS gh
      FROM (SELECT doc_id, w,
                   unnest(generate_series(1, len(w) - {_LCR_K - 1})) AS i
            FROM (SELECT doc_id, string_split(t, ' ') AS w FROM norm)
            WHERE len(w) >= {_LCR_K})
    ),
    shared AS (
      SELECT gh
      FROM (SELECT gh, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY 1)
      WHERE df BETWEEN 2 AND {_LCR_MAXDF}
    ),
    gk AS MATERIALIZED (SELECT g.* FROM g JOIN shared USING (gh)),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM gk a JOIN gk b ON a.gh = b.gh AND a.doc_id < b.doc_id
    ),
    isl AS (
      SELECT doc_a, doc_b, pa - pb AS diag,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, pa - pb
                                     ORDER BY pa) AS island
      FROM m
    ),
    runs AS (
      SELECT doc_a, doc_b, diag, island, COUNT(*) AS run_grams
      FROM isl GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run_grams) + {_LCR_K - 1} AS BIGINT)
             AS longest_token_run,
           CAST(SUM(run_grams) AS BIGINT) AS n_shared_gram_hits
    FROM runs GROUP BY 1, 2
    HAVING MAX(run_grams) + {_LCR_K - 1} >= {_LCR_MIN_RUN}
    ORDER BY doc_a, doc_b
    """,
    doc="Longest shared verbatim token run per doc pair [ext/dedup]: "
    "exact-substring dedup at token granularity (Lee et al. 2022) - "
    "positional K-gram md5 hashes, doc-frequency-capped hash-keyed "
    "match join (never all-pairs), per-(pair, diagonal) "
    "gaps-and-islands, max island + K-1. Pure integer arithmetic; "
    "islands windows bounded by doc length.",
)(_dedup_longest_common_run)


_LPA_ROUNDS = 3


def _graph_lpa_communities(spark: SparkSession, sf: str) -> DataFrame:
    """Synchronous label-propagation communities over the 1998+
    co-purchase graph (Raghavan et al. 2007): every node starts as its
    own label; each round it adopts the most frequent label among its
    neighbors (ties -> smallest label — the determinism rule that makes
    sync LPA oracle-replayable); 3 rounds, then a per-community rollup.

    Scale shape per round: one |2E|-row join of the label table onto
    the bidirectional edge list, a map-side-combined (node, label)
    count, and an agg-only argmax (min_by over (-n, label) — no rank
    window); the label table is checkpointed between rounds so round
    r+1 never replays round r's plan (the iterative-graph idiom shared
    with pagerank/kcore/HITS). Oracle = the same rounds unrolled as
    MATERIALIZED CTEs."""
    from .operators.graph import _und_deg, copurchase_pairs

    und, deg = _und_deg(copurchase_pairs(_lineitem_1998(spark, sf)))
    # PINNED repartition by the per-round join key BEFORE the
    # checkpoint (r9): bi is LOOP-INVARIANT, so partitioning it by
    # "nbr" once lets every round's join consume the checkpoint's
    # preserved HashPartitioning — only the |V|-row label table moves
    # per round. Honest measurement: NEUTRAL at bench scale (8.02 →
    # 7.81 s interleaved A/B — the floor here is per-stage overhead of
    # 6 stages × 3 rounds on byte-small data, not movement); kept
    # because at 100 TB the |2E| table is data-sized and re-exchanging
    # it every round IS the dominant cost this removes.
    par = spark.sparkContext.defaultParallelism
    bi = (
        und.select(F.col("src").alias("node"), F.col("dst").alias("nbr"))
        .unionByName(
            und.select(F.col("dst").alias("node"), F.col("src").alias("nbr"))
        )
        .repartition(par, "nbr")
        .localCheckpoint(eager=False)  # consumed once per round
    )
    labels = deg.select("node", F.col("node").alias("label"))
    for _ in range(_LPA_ROUNDS):
        nbr_labels = bi.join(
            labels.select(
                F.col("node").alias("nbr"), F.col("label").alias("nl")
            ),
            "nbr",
        )
        # r10 opt (guide §2.4/§2.5 + the CLAUDE.md near-unique-key rule):
        # the join output is nbr-partitioned, so groupBy(node, nl) was a
        # full |2E|-row exchange whose map-side partial aggregation
        # reduces nothing (labels ≈ node ids in early rounds → (node, nl)
        # near-unique), and the min_by argmax paid a SECOND exchange on
        # node. ONE pinned repartition by node satisfies BOTH aggregates
        # via subset-clustering (HashPartitioning(node) clusters
        # (node, nl)), so Catalyst plans final-only aggregates: per round
        # one |2E| exchange instead of two, no full-size partial hash
        # maps. Interleaved A/B ×3: 6.16 → 4.01 s (0.65×), identical
        # output; same shape win at 100 TB (one fewer data-sized
        # exchange per round).
        counts = (
            nbr_labels.repartition(par, "node")
            .groupBy("node", "nl")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        labels = (
            counts.groupBy("node")
            .agg(
                F.min_by(
                    F.col("nl"), F.struct(-F.col("n"), F.col("nl"))
                ).alias("label")
            )
            .localCheckpoint(eager=False)
        )
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("node").alias("min_node"),
        )
        .select(
            F.col("label").alias("community"),
            F.col("n_members").cast("long").alias("n_members"),
            F.col("min_node").alias("min_node"),
        )
        .orderBy("community")
    )


def _lpa_oracle_sql(rounds: int) -> str:
    ctes = [
        f"""
    lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
    {_UND_SQL},
    bi AS MATERIALIZED (
      SELECT src AS node, dst AS nbr FROM und
      UNION ALL SELECT dst AS node, src AS nbr FROM und),
    l0 AS MATERIALIZED (
      SELECT node, node AS label
      FROM (SELECT DISTINCT node FROM bi))
    """.strip()
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
    c{r} AS (
      SELECT bi.node, l.label AS nl, COUNT(*) AS n
      FROM bi JOIN l{r - 1} l ON l.node = bi.nbr
      GROUP BY 1, 2),
    l{r} AS MATERIALIZED (
      SELECT node, nl AS label
      FROM (SELECT node, nl,
                   ROW_NUMBER() OVER (PARTITION BY node
                                      ORDER BY n DESC, nl ASC) AS rn
            FROM c{r})
      WHERE rn = 1)
    """.strip()
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT label AS community,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MIN(node) AS min_node
    FROM l{rounds} GROUP BY 1 ORDER BY community
    """
    )


_register(
    "graph_lpa_communities",
    _lpa_oracle_sql(_LPA_ROUNDS),
    doc=f"Label-propagation communities [ext/graph]: {_LPA_ROUNDS} "
    "synchronous rounds with the (max count, min label) deterministic "
    "update over the co-purchase graph; per round one |2E| join + "
    "map-side-combined counts + agg-only argmax (no rank window), "
    "labels checkpointed between rounds; oracle = unrolled "
    "MATERIALIZED CTEs (the iterative-graph idiom).",
)(_graph_lpa_communities)


def _graph_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    from .operators.graph import copurchase_pairs, link_prediction_cn

    return link_prediction_cn(copurchase_pairs(_lineitem_1998(spark, sf)))


_register(
    "graph_link_prediction_cn",
    f"""
    WITH lp AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1998-01-01'),
    {_UND_SQL},
    bi AS MATERIALIZED (
      SELECT src AS node, dst AS nbr FROM und
      UNION ALL SELECT dst AS node, src AS nbr FROM und),
    deg AS MATERIALIZED (SELECT node, COUNT(*) AS d FROM bi GROUP BY 1),
    hot AS MATERIALIZED (SELECT node FROM deg WHERE d > {LP_MAX_MIDDLE_DEGREE}),
    capped AS (SELECT CAST(COUNT(*) AS BIGINT) AS capped_middles FROM hot),
    cn AS (
      SELECT b1.nbr AS u, b2.nbr AS w, COUNT(*) AS cn
      FROM bi b1 JOIN bi b2 ON b1.node = b2.node AND b1.nbr < b2.nbr
      WHERE b1.node NOT IN (SELECT node FROM hot)
      GROUP BY 1, 2),
    cand AS (
      SELECT c.u, c.w, c.cn
      FROM cn c LEFT JOIN und e ON e.src = c.u AND e.dst = c.w
      WHERE e.src IS NULL)
    SELECT c.u AS part_a, c.w AS part_b,
           CAST(c.cn AS BIGINT) AS common_neighbors,
           CAST(du.d AS BIGINT) AS d_a, CAST(dw.d AS BIGINT) AS d_b,
           {ratio_round_sql("c.cn", "du.d + dw.d - c.cn", 4)} AS jaccard,
           capped.capped_middles
    FROM cand c JOIN deg du ON du.node = c.u JOIN deg dw ON dw.node = c.w
         CROSS JOIN capped
    ORDER BY c.cn DESC, part_a, part_b LIMIT {LP_TOP_K}
    """,
    doc="Common-neighbors link prediction [ext/graph]: top-20 NON-edges "
    "of the co-purchase graph by shared-neighbor count (+ exact-ratio "
    "Jaccard variant) - the positive-candidate complement of "
    "graph_negative_samples for link-prediction training pairs. "
    "Wedges enumerate by MIDDLE node (bi-adjacency self-join, "
    "Sigma C(deg,2) rows - the inherent exact-CN cost; the census's "
    "degree-ORIENTED enumeration under-counts pairs whose middle "
    "out-ranks an endpoint, r7 oracle catch), packed-key FINAL-ONLY "
    "pair counts behind an explicit keyed repartition (a map-side "
    "partial agg reduces nothing on near-unique keys), edge anti-join, "
    "TakeOrderedAndProject top-k (no global sort). LP_MAX_MIDDLE_DEGREE "
    "(2^20, a fixture no-op) is the hub-skew knob: middles "
    "above the cap are broadcast-anti-joined out of wedge enumeration "
    "before the self-join; capped_middles audits the drop count.",
)(_graph_link_prediction)


_BPE_ROUNDS = 3
_BPE_MIN_LEN = 2


def _text_bpe_trainer(spark: SparkSession, sf: str) -> DataFrame:
    """Iterative BPE merge training (Sennrich et al. 2016) — the actual
    tokenizer-induction loop, not just the first-round pair statistics
    (`text_bpe_merge_stats`): each round counts adjacent SYMBOL pairs
    over the frequency-weighted word vocabulary, merges the most
    frequent pair (ties -> lexicographically smallest (a, b) — the
    determinism rule), rewrites the vocabulary's symbol sequences, and
    repeats. Output: the learned merge table (rank, pair, count at
    selection time).

    Exactness: counts are integer sums of word frequencies; the merge
    rewrite is the standard greedy LEFT-TO-RIGHT non-overlapping fold,
    implemented as the same explicit fold on both engines (Spark
    F.aggregate over the symbol array ↔ DuckDB list_reduce over
    singleton lists), so "a a a" merges to "aa a" identically.

    Scale shape: the corpus-sized work is ONE tokenize + word-count
    pass; every round thereafter operates on the VOCABULARY table
    (bounded by distinct words — ~10⁴-10⁶ rows at ANY corpus size, the
    reason BPE training is feasible at 100 TB), with the selected pair
    broadcast back. The array HOFs here run on that bounded table, not
    on a data-sized stream (the documented exception class, like the
    markov/zip_with sites); the vocab is checkpointed between rounds so
    round r+1 never replays round r's rewrite."""
    merges, _ = _bpe_train_chain(spark, sf)
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out.orderBy("merge_rank")


def _bpe_train_chain(
    spark: SparkSession, sf: str
) -> tuple[list[DataFrame], DataFrame]:
    """Shared BPE training chain: returns (per-round merge rows, the
    final vocabulary with ``w``/``syms``/``freq``) — ONE audited copy of
    the loop feeding both the trainer output and the apply/encode pass
    (``text_bpe_apply`` joins doc words to the final vocab)."""
    from .operators.dedup import _norm

    docs = _t(spark, sf, "documents")
    vocab = (
        docs.select(F.explode(F.split(_norm(F.col("text")), " ")).alias("w"))
        .filter(F.length("w") >= _BPE_MIN_LEN)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(
            "w",
            # [\s\S] extraction, NOT a zero-width split: Spark's
            # split("(?!^)") positions land between UTF-16 CODE UNITS and
            # tear surrogate pairs into broken halves (👍 -> 2 symbols,
            # measured r8), while DuckDB's string_split(w, '') yields code
            # points; regexp_extract_all advances by code point on both.
            F.regexp_extract_all("w", F.lit(r"[\s\S]"), F.lit(0)).alias(
                "syms"
            ),
            "freq",
        )
        .localCheckpoint(eager=False)
    )
    merges = []
    cur = vocab
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = (
            cur.select(
                "freq",
                F.explode(
                    F.transform(
                        F.slice("syms", 1, F.size("syms") - 1),
                        lambda x, i: F.struct(
                            x.alias("a"),
                            F.element_at(F.col("syms"), i + 2).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
        )
        top = (
            pairs.orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
            .limit(1)
            .localCheckpoint(eager=False)  # two consumers: output + rewrite
        )
        merges.append(
            top.select(
                F.lit(r).alias("merge_rank"),
                "a",
                "b",
                F.col("cnt").cast("long").alias("pair_count"),
            )
        )
        cur = (
            cur.crossJoin(F.broadcast(top))
            .select(
                "w",
                F.aggregate(
                    F.slice("syms", 2, F.size("syms") - 1),
                    F.slice("syms", 1, 1),
                    lambda acc, x: F.when(
                        (F.element_at(acc, -1) == F.col("a"))
                        & (x == F.col("b")),
                        F.concat(
                            F.slice(acc, 1, F.size(acc) - 1),
                            F.array(F.concat(F.col("a"), F.col("b"))),
                        ),
                    ).otherwise(F.concat(acc, F.array(x))),
                ).alias("syms"),
                "freq",
            )
            .localCheckpoint(eager=False)
        )
    return merges, cur


def _bpe_vocab_ctes(rounds: int) -> list[str]:
    """The unrolled BPE vocabulary CTE chain (w carried through so the
    apply oracle can join doc words to the final vocab) — ONE audited
    copy shared by the trainer and apply oracles."""
    ctes = [
        f"""
    normd AS MATERIALIZED (
      SELECT doc_id, {_DEDUP_NORM_SQL.format(col="text")} AS t
      FROM documents),
    v0 AS MATERIALIZED (
      SELECT w, string_split(w, '') AS syms, freq
      FROM (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
            FROM (SELECT unnest(string_split(t, ' ')) AS w FROM normd)
            WHERE length(w) >= {_BPE_MIN_LEN}
            GROUP BY w))
    """.strip()
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""
    p{r} AS (
      SELECT syms[i] AS a, syms[i + 1] AS b, SUM(freq) AS cnt
      FROM (SELECT syms, freq,
                   unnest(generate_series(1, len(syms) - 1)) AS i
            FROM v{r - 1})
      GROUP BY 1, 2),
    t{r} AS MATERIALIZED (
      SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    v{r} AS MATERIALIZED (
      SELECT w,
             list_reduce(list_transform(syms, s -> [s]),
               (acc, x) -> CASE WHEN acc[-1] = t.a AND x[1] = t.b
                           THEN acc[1:len(acc) - 1] || [t.a || t.b]
                           ELSE acc || x END) AS syms,
             freq
      FROM v{r - 1}, t{r} t)
    """.strip()
        )
    return ctes


def _bpe_oracle_sql(rounds: int) -> str:
    ctes = _bpe_vocab_ctes(rounds)
    unions = "\n    UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a, b, CAST(cnt AS BIGINT) AS pair_count "
        f"FROM t{r}"
        for r in range(1, rounds + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    {unions}\n    ORDER BY merge_rank\n    "
    )


_register(
    "text_bpe_trainer",
    _bpe_oracle_sql(_BPE_ROUNDS),
    doc=f"Iterative BPE merge training [ext/text/tokenizer]: "
    f"{_BPE_ROUNDS} greedy merge rounds over the frequency-weighted "
    "word vocabulary (Sennrich et al. 2016) - integer pair counts, "
    "lexicographic tie-break, identical left-to-right non-overlapping "
    "merge fold on both engines (F.aggregate <-> list_reduce). One "
    "corpus pass; every round is vocabulary-bounded work (why BPE "
    "trains at 100 TB). Oracle = unrolled MATERIALIZED CTEs.",
)(_text_bpe_trainer)


def _text_bpe_apply(spark: SparkSession, sf: str) -> DataFrame:
    """Apply the trained BPE merges to the corpus (encode): per-doc
    token statistics under the induced tokenizer — the missing half of
    train→apply (a tokenizer you can't run over the corpus is a demo).

    Scale shape: the merge folds run ONLY on the vocabulary table
    (bounded by distinct words — the documented HOF exception class);
    the corpus-sized work is one explode + one (word ⋈ vocab) equi-join
    + one map-side-combined groupBy(doc_id). Words shorter than
    ``_BPE_MIN_LEN`` are outside the trainer's vocabulary and outside
    these statistics on both engines."""
    from .operators.dedup import _norm

    _, vocab = _bpe_train_chain(spark, sf)
    docs = _t(spark, sf, "documents")
    dw = docs.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") >= _BPE_MIN_LEN)
    wm = vocab.select("w", F.size("syms").alias("n_syms"))
    return (
        dw.join(wm, "w")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum(F.length("w")).cast("long").alias("n_chars"),
            F.sum("n_syms").cast("long").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "n_words",
            "n_chars",
            "n_tokens",
            ratio_round(F.col("n_tokens"), F.col("n_chars"), 4).alias(
                "tokens_per_char"
            ),
        )
        .orderBy("doc_id")
    )


_register(
    "text_bpe_apply",
    "WITH "
    + ",\n    ".join(_bpe_vocab_ctes(_BPE_ROUNDS))
    + f""",
    dw AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM normd)
      WHERE length(w) >= {_BPE_MIN_LEN}
    )
    SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(length(d.w)) AS BIGINT) AS n_chars,
           CAST(SUM(len(v.syms)) AS BIGINT) AS n_tokens,
           {ratio_round_sql("SUM(len(v.syms))", "SUM(length(d.w))", 4)}
             AS tokens_per_char
    FROM dw d JOIN v{_BPE_ROUNDS} v ON v.w = d.w
    GROUP BY 1 ORDER BY 1
    """,
    doc="BPE encode over the corpus [ext/text/tokenizer]: apply the "
    f"{_BPE_ROUNDS} trained merges to every document and report per-doc "
    "token statistics (words, chars, post-merge tokens, tokens/char as "
    "an exact integer ratio) - the train->apply pair with "
    "text_bpe_trainer, sharing ONE audited vocabulary chain on each "
    "engine. Merge folds stay vocabulary-bounded; the corpus pays one "
    "explode + equi-join + map-side-combined groupBy.",
)(_text_bpe_apply)


_HF_BUCKETS = 16


def _hf_sparse_counts(spark: SparkSession, sf: str) -> DataFrame:
    """Sparse (doc_id, bucket, signed count) hashed features — the
    shared front half of ``text_hashed_features`` and the perceptron
    trainer (one audited copy of the bucket/sign lanes)."""
    from .operators.dedup import _norm, md5_hash_pieces

    docs = _t(spark, sf, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split(_norm(F.col("text")), " ")).alias("w")
    ).filter(F.length("w") > 0)
    x1, x2 = md5_hash_pieces(F.concat(F.lit("hf:"), F.col("w")))
    return (
        words.select(
            "doc_id",
            F.pmod(x1, F.lit(_HF_BUCKETS)).alias("b"),
            F.when(x2 % 2 == 0, F.lit(1)).otherwise(F.lit(-1)).alias("s"),
        )
        .groupBy("doc_id", "b")
        .agg(F.sum("s").alias("v"))
    )


def _text_hashed_features(spark: SparkSession, sf: str) -> DataFrame:
    """Hashing-trick (signed feature hashing) bag-of-words vectorizer
    (Weinberger et al. 2009; the HashingVectorizer/VW construction):
    each word hashes to one of ``_HF_BUCKETS`` buckets with a +/-1 sign
    from a second hash lane, per-doc bucket sums form the feature
    vector — NO vocabulary table at all, the reason this is the feature
    generator that survives web-scale streams where TF-IDF's global IDF
    pass cannot.

    Plan: one corpus explode + md5 projection + map-side-combined
    groupBy(doc, bucket); the dense zero-filled vector comes from a
    bounded |docs|x B fan (never a corpus-keyed window). Vector joined
    to a ' '-separated string for the driver hash."""
    docs = _t(spark, sf, "documents")
    counts = _hf_sparse_counts(spark, sf)
    grid = docs.select("doc_id").crossJoin(
        spark.range(_HF_BUCKETS).select(F.col("id").cast("long").alias("b"))
    )
    dense = grid.join(counts, ["doc_id", "b"], "left").select(
        "doc_id", "b", F.coalesce(F.col("v"), F.lit(0)).alias("v")
    )
    return (
        dense.groupBy("doc_id")
        .agg(
            F.array_join(
                _rel.ordered_array_agg(
                    F.col("b"), F.col("v").cast("string"), ascending=True
                ),
                " ",
            ).alias("features")
        )
        .orderBy("doc_id")
    )


#: DuckDB replay of the sparse hashed features — shared by
#: `text_hashed_features` and the perceptron trainer.
_HF_SPARSE_CTES = f"""norm AS (SELECT doc_id, {_DEDUP_NORM_SQL.format(col="text")} AS t
                  FROM documents),
    w AS (
      SELECT doc_id, w
      FROM (SELECT doc_id, unnest(string_split(t, ' ')) AS w FROM norm)
      WHERE length(w) > 0
    ),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5('hf:' || w), 1, 7))::BIGINT
               % {_HF_BUCKETS} AS b,
             CASE WHEN ('0x' || substr(md5('hf:' || w), 8, 7))::BIGINT
                       % 2 = 0
                  THEN 1 ELSE -1 END AS s
      FROM w
    ),
    c AS MATERIALIZED (SELECT doc_id, b, SUM(s) AS v FROM h GROUP BY 1, 2)"""

_register(
    "text_hashed_features",
    f"""
    WITH {_HF_SPARSE_CTES},
    grid AS (
      SELECT d.doc_id, gs.b
      FROM (SELECT doc_id FROM documents) d,
           (SELECT unnest(generate_series(0, {_HF_BUCKETS - 1})) AS b) gs
    ),
    dense AS (
      SELECT g.doc_id, g.b, COALESCE(c.v, 0) AS v
      FROM grid g LEFT JOIN c ON c.doc_id = g.doc_id AND c.b = g.b
    )
    SELECT doc_id,
           array_to_string(list(CAST(v AS VARCHAR) ORDER BY b), ' ')
             AS features
    FROM dense GROUP BY 1 ORDER BY 1
    """,
    doc=f"Signed feature hashing (hashing trick, {_HF_BUCKETS} buckets) "
    "[ext/text]: per-doc bag-of-words vector with NO vocabulary pass - "
    "the feature generator that survives web scale where TF-IDF's "
    "global IDF cannot (Weinberger et al. 2009). md5 bucket + sign "
    "lanes both engines replay; one corpus explode + map-side-combined "
    "groupBy; dense zeros from a bounded fan. "
    "Vector crosses as a ' '-joined string (driver-hashable).",
)(_text_hashed_features)


_PERC_EPOCHS = 3


def _text_perceptron_trainer(spark: SparkSession, sf: str) -> DataFrame:
    """Batch perceptron trained IN DataFrame space over the hashed
    features (label: lang == 'en') — iterative model training as a
    first-class engine operator, every step exact integer arithmetic:
    per epoch, margins m_d = Σ_b w_b·x_db (sparse features ⋈ broadcast
    16-row weight table, map-side-combined per-doc sum), prediction
    ŷ = +1 iff m > 0 (docs with no features score m = 0), and the
    batch update w += Σ_misclassified y·x. Deterministic: batch (not
    per-row) updates make the epoch a pure function of the data, so
    the DuckDB oracle unrolls the epochs verbatim.

    Output: one row per bucket with the weight trajectory
    (w after epoch 1, 2, 3). Scale shape: the corpus pays one feature
    extraction (checkpointed — 2 consumers per epoch) and per epoch one
    16-row broadcast join + two map-side-combined aggregates; weights
    ride between epochs as a checkpointed 16-row table (the Lloyd/
    pagerank iteration idiom).
    """
    _, _, epochs = _perceptron_train(spark, sf)
    out = epochs[0].select("b", F.col("wt").alias("w_epoch1"))
    for i, wi in enumerate(epochs[1:], start=2):
        out = out.join(
            wi.select("b", F.col("wt").alias(f"w_epoch{i}")), "b"
        )
    return out.orderBy("b")


def _perceptron_train(
    spark: SparkSession, sf: str
) -> tuple[DataFrame, DataFrame, list[DataFrame]]:
    """Shared perceptron training chain: (sparse features, labels,
    per-epoch weight tables) — one audited copy feeding the trainer
    output and the eval entry."""
    docs = _t(spark, sf, "documents")
    feats = _hf_sparse_counts(spark, sf).localCheckpoint(eager=False)
    labels = docs.select(
        "doc_id",
        F.when(F.col("lang") == "en", F.lit(1))
        .otherwise(F.lit(-1))
        .alias("y"),
    ).localCheckpoint(eager=False)
    w = spark.range(_HF_BUCKETS).select(
        F.col("id").cast("long").alias("b"), F.lit(0).cast("long").alias("wt")
    )
    epochs = []
    for _ in range(_PERC_EPOCHS):
        margins = (
            feats.join(F.broadcast(w), "b")
            .groupBy("doc_id")
            .agg(F.sum(F.col("v") * F.col("wt")).alias("m"))
        )
        pred = labels.join(margins, "doc_id", "left").select(
            "doc_id", "y", F.coalesce(F.col("m"), F.lit(0)).alias("m")
        )
        miscl = pred.filter(
            ((F.col("y") == 1) & (F.col("m") <= 0))
            | ((F.col("y") == -1) & (F.col("m") > 0))
        )
        delta = (
            miscl.join(feats, "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("y") * F.col("v")).alias("d"))
        )
        w = (
            w.join(delta, "b", "left")
            .select(
                "b",
                (F.col("wt") + F.coalesce(F.col("d"), F.lit(0))).alias("wt"),
            )
            .localCheckpoint(eager=False)  # 2 consumers: next epoch + output
        )
        epochs.append(w)
    return feats, labels, epochs


def _perceptron_ctes(epochs: int) -> list[str]:
    """The unrolled perceptron-training CTE chain (features, labels,
    w0..w{epochs}) — shared by the trainer oracle and the eval entry
    (one audited copy of the training replay)."""
    ctes = [
        _HF_SPARSE_CTES,
        """lab AS MATERIALIZED (
      SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y
      FROM documents)""",
        f"""w0 AS (SELECT unnest(generate_series(0, {_HF_BUCKETS - 1})) AS b,
                 CAST(0 AS BIGINT) AS wt)""",
    ]
    for t in range(1, epochs + 1):
        ctes.append(
            f"""m{t} AS (
      SELECT c.doc_id, SUM(c.v * w.wt) AS m
      FROM c JOIN w{t - 1} w ON w.b = c.b GROUP BY 1),
    p{t} AS (
      SELECT l.doc_id, l.y, COALESCE(m.m, 0) AS m
      FROM lab l LEFT JOIN m{t} m USING (doc_id)),
    d{t} AS (
      SELECT c.b, SUM(p.y * c.v) AS d
      FROM p{t} p JOIN c ON c.doc_id = p.doc_id
      WHERE (p.y = 1 AND p.m <= 0) OR (p.y = -1 AND p.m > 0)
      GROUP BY 1),
    w{t} AS MATERIALIZED (
      SELECT w.b, CAST(w.wt + COALESCE(d.d, 0) AS BIGINT) AS wt
      FROM w{t - 1} w LEFT JOIN d{t} d USING (b))"""
        )
    return ctes


def _perceptron_oracle_sql(epochs: int) -> str:
    ctes = _perceptron_ctes(epochs)
    cols = ", ".join(f"w{t}.wt AS w_epoch{t}" for t in range(1, epochs + 1))
    joins = " ".join(f"JOIN w{t} USING (b)" for t in range(2, epochs + 1))
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT w1.b, {cols}
    FROM w1 {joins}
    ORDER BY w1.b
    """
    )


_register(
    "text_perceptron_trainer",
    _perceptron_oracle_sql(_PERC_EPOCHS),
    doc=f"Batch perceptron trained in DataFrame space [ext/text/ml]: "
    f"{_PERC_EPOCHS} epochs over the {_HF_BUCKETS}-bucket hashed "
    "features, label lang='en' - iterative model TRAINING as an engine "
    "operator, all-integer (margins, batch updates), so the oracle "
    "unrolls the epochs verbatim. Per epoch: one broadcast 16-row "
    "weight join + two map-side-combined aggregates over the "
    "checkpointed sparse features; weights ride between epochs as a "
    "checkpointed 16-row table. Output: per-bucket weight trajectory.",
)(_text_perceptron_trainer)


def _classifier_perceptron_eval(spark: SparkSession, sf: str) -> DataFrame:
    """Training-set confusion + accuracy of the trained perceptron —
    the eval half of the train->eval pair (one shared training chain).
    One extra margins pass with the final weights; confusion cells and
    the accuracy/precision/recall ratios are exact integers with
    zero-denominator guards."""
    feats, labels, epochs = _perceptron_train(spark, sf)
    w = epochs[-1]
    margins = (
        feats.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("v") * F.col("wt")).alias("m"))
    )
    pred = labels.join(margins, "doc_id", "left").select(
        "y", F.coalesce(F.col("m"), F.lit(0)).alias("m")
    )
    pos = F.col("m") > 0
    cell = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = pred.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        cell((F.col("y") == 1) & pos).alias("tp"),
        cell((F.col("y") == -1) & pos).alias("fp"),
        cell((F.col("y") == 1) & ~pos).alias("fn"),
        cell((F.col("y") == -1) & ~pos).alias("tn"),
    )
    return agg.select(
        "n_docs",
        "tp",
        "fp",
        "fn",
        "tn",
        ratio_round(F.col("tp") + F.col("tn"), F.col("n_docs"), 4).alias(
            "accuracy"
        ),
        F.when(
            F.col("tp") + F.col("fp") > 0,
            ratio_round(F.col("tp"), F.col("tp") + F.col("fp"), 4),
        ).alias("precision"),
        F.when(
            F.col("tp") + F.col("fn") > 0,
            ratio_round(F.col("tp"), F.col("tp") + F.col("fn"), 4),
        ).alias("recall"),
    )


_register(
    "classifier_perceptron_eval",
    "WITH "
    + ",\n    ".join(_perceptron_ctes(_PERC_EPOCHS))
    + f""",
    mf AS (
      SELECT c.doc_id, SUM(c.v * w.wt) AS m
      FROM c JOIN w{_PERC_EPOCHS} w ON w.b = c.b GROUP BY 1),
    pf AS (
      SELECT l.y, COALESCE(m.m, 0) AS m
      FROM lab l LEFT JOIN mf m USING (doc_id)),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN y = 1 AND m > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN y = -1 AND m > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN y = 1 AND m <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN y = -1 AND m <= 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS tn
      FROM pf)
    SELECT n_docs, tp, fp, fn, tn,
           {ratio_round_sql("tp + tn", "n_docs", 4)} AS accuracy,
           CASE WHEN tp + fp > 0
                THEN {ratio_round_sql("tp", "tp + fp", 4)} END AS precision,
           CASE WHEN tp + fn > 0
                THEN {ratio_round_sql("tp", "tp + fn", 4)} END AS recall
    FROM cells
    """,
    doc="Perceptron training-set evaluation [ext/text/ml]: confusion "
    "cells + accuracy/precision/recall of the trained weights - the "
    "eval half of the train->eval pair, sharing ONE training chain on "
    "each engine (the BPE train->apply pattern). Ratios are exact "
    "integer quotients with zero-denominator guards.",
)(_classifier_perceptron_eval)


def _retrieval_recall_sweep(spark: SparkSession, sf: str) -> DataFrame:
    """Recall@5 of the IVF index vs the exact ranking, swept over
    nprobe ∈ {1, 2, 4} — THE index-tuning curve an ANN deployment reads
    before picking its latency/recall point (recall rises monotonically
    with nprobe; per-query work stays nprobe × cell size). Eval-family
    op: cost ≡ one exact pass + three IVF passes, all four being the
    already-audited top-k subplans; recall is an exact integer ratio
    (ratio_round — hits/possible is a grid quotient).

    The exact top-5 table (|q|·5 rows) is checkpointed once — six
    consumers (three intersection joins + three denominators) would
    each replay the brute-force pass otherwise. Likewise the IVF side
    quantizes and scores ONCE at the maximal nprobe (assignment + one
    probe-rank table + one scored-candidate table, checkpointed, each
    probe rank carried along); the three sweep points are pr-filter +
    rank over that small table — NOT three ivf_topk calls, which would
    pay the corpus quantization per sweep point (review catch; the
    oracle already shared one MATERIALIZED assigned/probe table)."""
    from .operators import similarity as _simops

    emb = _t(spark, sf, "embeddings")
    qp = F.col("vec_id") < 10
    nprobes = (1, 2, 4)
    exact = (
        _simops.brute_force_topk(emb, qp, k=5)
        .select("query_id", "neighbor_id")
        .localCheckpoint(eager=False)
    )
    centroids = _simops._modulus_centroids(emb)
    assigned = _simops.ivf_assign(emb, centroids)
    probes = _simops._cosine_probes(emb, qp, centroids, max(nprobes))
    par = spark.sparkContext.defaultParallelism
    scored = (
        _simops._probed_cell_scores(assigned.repartition(par), probes)
        .select("query_id", "neighbor_id", "pr", "cos")
        .localCheckpoint(eager=False)  # |q|·maxprobe·cellsize rows,
        # consumed once per sweep point
    )
    parts = []
    for np_ in nprobes:
        ivf = _simops._top_k(scored.filter(F.col("pr") <= np_), 5).select(
            "query_id", "neighbor_id"
        )
        hits = ivf.join(exact, ["query_id", "neighbor_id"]).agg(
            F.count(F.lit(1)).alias("hits")
        )
        total = exact.agg(F.count(F.lit(1)).alias("possible"))
        parts.append(
            hits.crossJoin(total).select(
                F.lit(np_).alias("nprobe"),
                F.col("hits").cast("long").alias("hits"),
                F.col("possible").cast("long").alias("possible"),
                ratio_round(F.col("hits"), F.col("possible"), 4).alias(
                    "recall_at_5"
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("nprobe")


def _recall_sweep_oracle_sql() -> str:
    cos_qa = _COS_SQL.format(a="p.q_emb", b="a.emb")
    per_np = []
    for np_ in (1, 2, 4):
        per_np.append(
            f"""
    s{np_} AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY p.query_id
               ORDER BY {cos_qa} DESC, a.vec_id) AS rnk
      FROM assigned a
      JOIN (SELECT * FROM probe WHERE rn <= {np_}) p
        ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id),
    h{np_} AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS hits
      FROM (SELECT query_id, neighbor_id FROM s{np_} WHERE rnk <= 5) i
      JOIN exact x USING (query_id, neighbor_id))
    """.strip()
        )
    unions = "\n    UNION ALL ".join(
        f"SELECT {np_} AS nprobe, hits, possible, "
        f"{ratio_round_sql('hits', 'possible', 4)} AS recall_at_5 "
        f"FROM h{np_}, poss"
        for np_ in (1, 2, 4)
    )
    per_np_sql = ",\n    ".join(per_np)
    return f"""
    WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    cent AS MATERIALIZED (SELECT vec_id AS centroid_id, emb AS c_emb FROM e
             WHERE vec_id % {_sim.IVF_CENTROID_MODULUS} = 0),
    assigned AS MATERIALIZED (
      {_IVF_ASSIGN_SQL}),
    q AS MATERIALIZED (SELECT vec_id AS query_id, emb AS q_emb FROM e
                       WHERE vec_id < 10),
    exact AS MATERIALIZED (
      SELECT query_id, neighbor_id
      FROM (SELECT q.query_id, e.vec_id AS neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY {_COS_SQL.format(a="q.q_emb", b="e.emb")} DESC,
                              e.vec_id) AS rnk
            FROM e, q WHERE e.vec_id <> q.query_id)
      WHERE rnk <= 5),
    poss AS (SELECT CAST(COUNT(*) AS BIGINT) AS possible FROM exact),
    probe AS MATERIALIZED (
      SELECT query_id, q_emb, centroid_id, rn
      FROM (SELECT q.query_id, q.q_emb, c.centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY q.query_id
                     ORDER BY {_COS_SQL.format(a="q.q_emb", b="c.c_emb")} DESC,
                              c.centroid_id) AS rn
            FROM q, cent c)
      WHERE rn <= 4),
    {per_np_sql}
    {unions}
    ORDER BY nprobe
    """


_register(
    "retrieval_recall_sweep",
    _recall_sweep_oracle_sql(),
    doc="ANN recall@5 sweep over nprobe in {1,2,4} [ext/similarity/eval]: "
    "the latency/recall tuning curve - exact top-5 (checkpointed once) "
    "intersected with three IVF rankings sharing ONE probe-rank table; "
    "recall as an exact integer ratio (ratio_round). All four rankers "
    "are the already-audited bit-identical cosine subplans.",
)(_retrieval_recall_sweep)


# --------------------------------------------------------------------------
# r10: IVF index maintenance + shard consolidation planning (r8 verdict
# item 7 roadmap, registered with full oracles per the r9 verdict item 2)
# --------------------------------------------------------------------------


def _ivf_cell_stats_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    _, cb_row = _sim.grid_kmeans(emb)
    return _sim.ivf_cell_stats(emb, cb_row)


# Shared cell-stats replay CTEs (assumes the grid-kmeans CTEs — gcomps,
# gassign, gcb2 — precede them): per-cell occupancy, half-away integer
# mean, exact drift, assembled over the codebook spine. Used by
# ivf_cell_stats and ivf_cell_split_plan.
_IVF_CELL_STATS_CTES = f"""ccounts AS (SELECT centroid_id AS j, CAST(COUNT(*) AS BIGINT) AS n
                FROM gassign GROUP BY 1),
    cmeans AS (
      SELECT j, dim, CAST({ratio_round_sql("s", "n", 0)} AS BIGINT) AS m
      FROM (SELECT a.centroid_id AS j, g.dim, SUM(g.u) AS s, COUNT(*) AS n
            FROM gassign a JOIN gcomps g ON g.vec_id = a.vec_id
            GROUP BY 1, 2)),
    cdrift AS (
      SELECT m.j, CAST(SUM((m.m - b.c) * (m.m - b.c)) AS BIGINT) AS drift_d2
      FROM cmeans m JOIN gcb2 b ON b.j = m.j AND b.dim = m.dim
      GROUP BY 1),
    cstats AS MATERIALIZED (
      SELECT CAST(s.j AS INTEGER) AS centroid_id,
             COALESCE(c.n, 0) AS n_assigned,
             d.drift_d2
      FROM (SELECT DISTINCT j FROM gcb2) s
      LEFT JOIN ccounts c ON c.j = s.j
      LEFT JOIN cdrift d ON d.j = s.j)"""

_register(
    "ivf_cell_stats",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    {_IVF_CELL_STATS_CTES}
    SELECT centroid_id, n_assigned, drift_d2 FROM cstats
    """,
    doc="IVF cell maintenance report [ext/similarity/ivf]: per-cell "
    "occupancy + exact-integer centroid drift over the CODEBOOK spine "
    "(empty cells surface with n_assigned=0, drift NULL) - the report a "
    "streaming ANN ingest reads to decide which cells to re-train or "
    "split. Quantizer is similarity.grid_kmeans (2 grid-Lloyd rounds); "
    "drift is the squared grid distance between the frozen centroid and "
    "the half-away integer mean of the vectors routed to it - exact "
    "integers end to end, so the oracle is the established kmeans SQL "
    "replay. Scale: one corpus Arrow map emitting <=k partials/batch, a "
    "k*D aggregate, k-row spine join - no data-sized shuffle.",
)(_ivf_cell_stats_q)


def _shard_merge_plan_q(spark: SparkSession, sf: str) -> DataFrame:
    docs = _t(spark, sf, "documents")
    tok = docs.select(
        "doc_id",
        F.size(F.split(_dedup._norm(F.col("text")), " ")).alias("n_tokens"),
    )
    packs = _sampling.greedy_pack(tok, "doc_id", "n_tokens")
    # simulated post-dedup shrink: drop a third of the docs, leaving
    # previously full packs under-filled — the consolidation trigger
    shrunk = packs.filter(F.col("doc_id") % 3 != 0)
    return _sampling.shard_merge_plan(shrunk, "n_tokens")


_register(
    "dataset_shard_merge_plan",
    f"""
    WITH {_GP_PACKS_CTES},
    shrunk AS (SELECT * FROM packs WHERE doc_id % 3 <> 0),
    totals AS (SELECT bucket, pack_ix,
                      CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
               FROM shrunk GROUP BY 1, 2),
    unders AS (
      SELECT bucket, pack_ix, pack_tokens,
             SUM(pack_tokens) OVER w - pack_tokens AS prefix
      FROM totals
      WHERE pack_tokens < {_sampling.PACK_BUDGET}
      WINDOW w AS (PARTITION BY bucket
                   ORDER BY pack_tokens DESC, pack_ix
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    planned AS (
      SELECT bucket, pack_ix, pack_tokens,
             CAST(prefix // {_sampling.PACK_BUDGET} AS BIGINT) AS merged_pack_ix
      FROM unders),
    gtot AS (
      SELECT bucket, merged_pack_ix,
             CAST(SUM(pack_tokens) AS BIGINT) AS merged_tokens,
             COUNT(*) AS n_packs
      FROM planned GROUP BY 1, 2)
    SELECT p.bucket, p.pack_ix, p.pack_tokens, 'merge' AS action,
           p.merged_pack_ix, g.merged_tokens
    FROM planned p JOIN gtot g USING (bucket, merged_pack_ix)
    WHERE g.n_packs >= 2
    UNION ALL
    SELECT bucket, pack_ix, pack_tokens, 'keep' AS action,
           CAST(NULL AS BIGINT) AS merged_pack_ix,
           CAST(NULL AS BIGINT) AS merged_tokens
    FROM totals WHERE pack_tokens >= {_sampling.PACK_BUDGET}
    UNION ALL
    SELECT p.bucket, p.pack_ix, p.pack_tokens, 'keep' AS action,
           CAST(NULL AS BIGINT) AS merged_pack_ix,
           CAST(NULL AS BIGINT) AS merged_tokens
    FROM planned p JOIN gtot g USING (bucket, merged_pack_ix)
    WHERE g.n_packs < 2
    """,
    doc="Packed-shard merge planner [ext/sampling/packing]: after a "
    "simulated dedup (doc_id % 3 removed) shrinks dataset_greedy_pack's "
    "packs, plan which under-filled packs coalesce per bucket - biggest-"
    "first chunked fill (tokens DESC, pack_ix; exact integral prefix "
    "div budget), single-pack merge groups reclassified as keeps so a "
    "converged layout is a no-op (idempotent; ADVICE r9). Keeps are "
    "never rewritten. The plan is the output; no applier rewrites "
    "shards. Scale: "
    "map-side-combined pack rollup, window over PACK-level rows per "
    "bucket, merge-group rollup join - bounded by packs/bucket.",
)(_shard_merge_plan_q)


def _ivf_plan(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """``(emb, cb_row, plan)``: grid_kmeans -> ivf_cell_stats ->
    ivf_cell_split_plan over the one trained codebook."""
    emb = _t(spark, sf, "embeddings")
    _, cb_row = _sim.grid_kmeans(emb)
    plan = _sim.ivf_cell_split_plan(_sim.ivf_cell_stats(emb, cb_row), cb_row)
    return emb, cb_row, plan


def _ivf_cell_split_plan_q(spark: SparkSession, sf: str) -> DataFrame:
    return _ivf_plan(spark, sf)[2]


# Shared plan-replay CTEs (assume the kmeans + cell-stats CTEs precede
# them): classification, pairwise centroid distances, merge targets, and
# the assembled plan. Used by ivf_cell_split_plan and ivf_apply_cell_plan.
_IVF_PLAN_CTES = f"""ctot AS (SELECT CAST(SUM(n_assigned) AS BIGINT) AS total,
                    CAST(COUNT(*) AS BIGINT) AS k
             FROM cstats),
    cls AS MATERIALIZED (
      SELECT s.centroid_id, s.n_assigned, s.drift_d2, t.total, t.k,
             CASE WHEN s.n_assigned * t.k * {_sim.SPLIT_HOT_DEN}
                       > {_sim.SPLIT_HOT_NUM} * t.total THEN 'split'
                  WHEN s.n_assigned * t.k * {_sim.SPLIT_COLD_DEN}
                       < {_sim.SPLIT_COLD_NUM} * t.total THEN 'merge'
                  WHEN s.drift_d2 IS NOT NULL
                       AND s.drift_d2 > {_sim.SPLIT_DRIFT_D2} THEN 'retrain'
                  ELSE 'keep' END AS action
      FROM cstats s, ctot t),
    cpair_d2 AS (
      SELECT x.j AS a, y.j AS b,
             CAST(SUM((x.c - y.c) * (x.c - y.c)) AS BIGINT) AS d2
      FROM gcb2 x JOIN gcb2 y ON y.dim = x.dim AND y.j <> x.j
      GROUP BY 1, 2),
    ctgt AS (
      SELECT CAST(a AS INTEGER) AS centroid_id, CAST(b AS INTEGER) AS merge_into
      FROM (SELECT p.a, p.b,
                   ROW_NUMBER() OVER (PARTITION BY p.a
                                      ORDER BY p.d2, p.b) AS rn
            FROM cpair_d2 p
            JOIN cls sa ON sa.centroid_id = p.a AND sa.action = 'merge'
            JOIN cls sb ON sb.centroid_id = p.b AND sb.action <> 'merge')
      WHERE rn = 1),
    cplan AS MATERIALIZED (
      SELECT c.centroid_id, c.n_assigned, c.drift_d2, c.action,
             CASE WHEN c.action = 'split'
                  THEN CAST((c.n_assigned * c.k + c.total - 1) // c.total
                            AS BIGINT)
             END AS n_subcells,
             t.merge_into
      FROM cls c LEFT JOIN ctgt t USING (centroid_id))"""

_register(
    "ivf_cell_split_plan",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    {_IVF_CELL_STATS_CTES},
    {_IVF_PLAN_CTES}
    SELECT centroid_id, n_assigned, drift_d2, action, n_subcells, merge_into
    FROM cplan
    """,
    doc="IVF cell split/merge/re-train plan [ext/similarity/ivf]: "
    "consumes the ivf_cell_stats report (the way shard_merge_plan "
    "consumes pack totals). Actions by precedence, all EXACT-integer: "
    f"split above {_sim.SPLIT_HOT_NUM}/{_sim.SPLIT_HOT_DEN} of mean occupancy (cross-"
    "multiplied - no quotient touches a rounding grid; n_subcells = "
    "exact integral ceil(n/mean)), merge below "
    f"{_sim.SPLIT_COLD_NUM}/{_sim.SPLIT_COLD_DEN} of mean into the nearest non-cold "
    "centroid by exact integer grid distance (tie: smaller id), retrain "
    f"above drift_d2 {_sim.SPLIT_DRIFT_D2} (grid units^2), else keep. The tight "
    "occupancy band is chosen so the near-uniform fixture corpus "
    "exercises every action class. Scale: all inputs cell-sized (k / "
    "k*D rows), merge-target search k^2*D - the corpus pass lives in "
    "ivf_cell_stats.",
)(_ivf_cell_split_plan_q)


def _ivf_apply_cell_plan_q(spark: SparkSession, sf: str) -> DataFrame:
    emb, cb_row, plan = _ivf_plan(spark, sf)
    return _sim.apply_cell_plan(emb, cb_row, plan)


# Shared apply-replay CTEs (assume kmeans + cell-stats + plan CTEs
# precede them): anchor ranking, exact-d2 subcell picks, and the final
# per-vector relabeling `capply`. Used by ivf_apply_cell_plan and
# ivf_post_apply_codebook.
_IVF_APPLY_CTES = """sbase AS (
      SELECT centroid_id, n_subcells,
             COALESCE(SUM(n_subcells) OVER (ORDER BY centroid_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM cplan WHERE action = 'split'),
    splitvec AS MATERIALIZED (
      SELECT a.vec_id, a.centroid_id, s.n_subcells, s.prior,
             ROW_NUMBER() OVER (PARTITION BY a.centroid_id
               ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id) AS rn
      FROM gassign a JOIN sbase s ON s.centroid_id = a.centroid_id),
    anch AS MATERIALIZED (
      SELECT centroid_id, vec_id AS anchor_vec, rn - 1 AS arank
      FROM splitvec WHERE rn <= n_subcells),
    subd2 AS (
      SELECT v.vec_id, v.centroid_id, v.prior, an.arank,
             SUM((gv.u - ga.u) * (gv.u - ga.u)) AS d2
      FROM splitvec v
      JOIN anch an ON an.centroid_id = v.centroid_id
      JOIN gcomps gv ON gv.vec_id = v.vec_id
      JOIN gcomps ga ON ga.vec_id = an.anchor_vec AND ga.dim = gv.dim
      GROUP BY 1, 2, 3, 4),
    subpick AS (
      SELECT vec_id, centroid_id,
             CAST(t.k + prior + arank AS INTEGER) AS new_centroid_id
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                         ORDER BY d2, arank) AS pr
            FROM subd2), ctot t
      WHERE pr = 1),
    capply AS MATERIALIZED (
      SELECT a.vec_id,
             a.centroid_id AS old_centroid_id,
             CAST(CASE WHEN p.action = 'split' THEN sp.new_centroid_id
                       WHEN p.action = 'merge' AND p.merge_into IS NOT NULL
                            THEN p.merge_into
                       ELSE a.centroid_id END AS INTEGER) AS new_centroid_id,
             p.action
      FROM gassign a
      JOIN cplan p ON p.centroid_id = a.centroid_id
      LEFT JOIN subpick sp ON sp.vec_id = a.vec_id)"""

_register(
    "ivf_apply_cell_plan",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    {_IVF_CELL_STATS_CTES},
    {_IVF_PLAN_CTES},
    {_IVF_APPLY_CTES}
    SELECT vec_id, old_centroid_id, new_centroid_id, action FROM capply
    """,
    doc="IVF plan applier [ext/similarity/ivf]: executes the "
    "ivf_cell_split_plan over the corpus (planner -> applier). Merged cells "
    "relabel to their target; split cells partition into n_subcells "
    "new cells seeded by the n_subcells lowest-md5 member vectors "
    "(grid_kmeans init discipline per cell) with nearest-anchor "
    "assignment by EXACT integer grid distance (tie: anchor rank); new "
    "ids renumber above k via an exclusive window sum - collision-free, "
    "exact. keeps/retrains keep their label (retrain moves the "
    "CENTROID offline, not the membership). Scale: two corpus scan-"
    "speed passes (non-split relabel pipeline + split-subset "
    "quantization) - preferred over checkpointing corpus-fraction rows; "
    "split-path work bounded by the re-train fraction; the exact-d2 "
    "aggregate map-side folds the D exploded dims per (vector, anchor) "
    "pair.",
)(_ivf_apply_cell_plan_q)


def _ivf_post_apply_codebook_q(spark: SparkSession, sf: str) -> DataFrame:
    emb, cb_row, plan = _ivf_plan(spark, sf)
    return _sim.post_apply_codebook(emb, cb_row, plan)


_register(
    "ivf_post_apply_codebook",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    {_IVF_CELL_STATS_CTES},
    {_IVF_PLAN_CTES},
    {_IVF_APPLY_CTES}
    SELECT centroid_id, dim,
           CAST({ratio_round_sql("s", "n", 0)} AS BIGINT) AS c,
           n AS n_members
    FROM (SELECT ca.new_centroid_id AS centroid_id,
                 CAST(g.dim - 1 AS INTEGER) AS dim,
                 SUM(g.u) AS s, CAST(COUNT(*) AS BIGINT) AS n
          FROM capply ca JOIN gcomps g ON g.vec_id = ca.vec_id
          GROUP BY 1, 2)
    """,
    doc="Post-apply re-trained codebook [ext/similarity/ivf]: one Lloyd "
    "update warm-started from the applied assignment - the half-away "
    "integer unit mean per (live post-apply cell, dim) plus member "
    "counts, closing the maintenance loop (stats -> plan -> apply -> "
    "new codebook, which the next stats round consumes). Split subcells "
    "surface above k, merge targets absorb their sources, dead cells "
    "drop out. Scale: apply carries the vector through "
    "(with_embedding=True - no corpus re-join), then one explode + "
    "groupBy((cell, dim)) with map-side partials <= k'*D per task - "
    "the Lloyd-update shuffle shape. dim is 0-based on both sides "
    "(oracle emits gcomps dim - 1).",
)(_ivf_post_apply_codebook_q)


def _ivf_maintenance_report_q(spark: SparkSession, sf: str) -> DataFrame:
    emb, cb_row, plan = _ivf_plan(spark, sf)
    return _sim.maintenance_report(emb, cb_row, plan)


_register(
    "ivf_maintenance_report",
    f"""
    WITH {_grid_kmeans_ctes("embeddings", 8)},
    {_IVF_CELL_STATS_CTES},
    {_IVF_PLAN_CTES},
    {_IVF_APPLY_CTES},
    mrcb AS (
      SELECT cell, dim, CAST({ratio_round_sql("s", "n", 0)} AS BIGINT) AS c
      FROM (SELECT ca.new_centroid_id AS cell, g.dim,
                   SUM(g.u) AS s, CAST(COUNT(*) AS BIGINT) AS n
            FROM capply ca JOIN gcomps g ON g.vec_id = ca.vec_id
            GROUP BY 1, 2)),
    mrb AS (
      SELECT p.action, CAST(COUNT(*) AS BIGINT) AS n_vectors,
             CAST(SUM(a.d2) AS BIGINT) AS sse_before
      FROM gassign a JOIN cplan p ON p.centroid_id = a.centroid_id
      GROUP BY 1),
    mra AS (
      SELECT ca.action,
             CAST(SUM((g.u - c.c) * (g.u - c.c)) AS BIGINT) AS sse_after
      FROM capply ca
      JOIN gcomps g ON g.vec_id = ca.vec_id
      JOIN mrcb c ON c.cell = ca.new_centroid_id AND c.dim = g.dim
      GROUP BY 1),
    mrs AS (SELECT action, CAST(COUNT(*) AS BIGINT) AS n_cells
            FROM cplan GROUP BY 1)
    SELECT s.action, s.n_cells,
           COALESCE(b.n_vectors, 0) AS n_vectors,
           COALESCE(b.sse_before, 0) AS sse_before,
           COALESCE(a.sse_after, 0) AS sse_after,
           CASE WHEN COALESCE(b.sse_before, 0) > 0
                THEN {ratio_round_sql("COALESCE(a.sse_after, 0)", "b.sse_before", 4)}
           END AS sse_ratio
    FROM mrs s
    LEFT JOIN mrb b USING (action)
    LEFT JOIN mra a USING (action)
    ORDER BY action
    """,
    doc="IVF maintenance before/after distortion audit "
    "[ext/similarity/ivf]: the capstone over the stats -> plan -> "
    "apply -> codebook loop - per plan action class, member cells/"
    "vectors plus the EXACT integer grid SSE of those vectors to their "
    "old centroid (sse_before, the assignment pass's d2) vs to the "
    "post-apply re-trained centroid of their new cell (sse_after), and "
    "the after/before ratio at 4 decimals (ratio_round; NULL on zero "
    "before-error). Split classes drop sharply, merge classes may rise "
    "- the measured cost of retiring cold cells. The after side never "
    "materializes per-vector distances: it aggregates (sum u^2, sum u, "
    "n) per (new cell, action, dim) - map-side partials <= k'*a*D per "
    "task - and expands sum((u-c)^2) = sum u^2 - 2*c*sum u + n*c^2 "
    "with the integer centroid, bit-equal to the oracle's direct "
    "per-row sum. Scale: one corpus assign pass + the applier's two; "
    "cell-sized sufficient statistics lazily checkpointed (two "
    "consumers: re-trained codebook + SSE expansion).",
)(_ivf_maintenance_report_q)


def _embedding_bitext_margin_q(spark: SparkSession, sf: str) -> DataFrame:
    emb = _t(spark, sf, "embeddings")
    return _sim.bitext_margin_pairs(emb)


_register(
    "embedding_bitext_margin",
    f"""
    WITH s AS (SELECT vec_id AS src_id, CAST(embedding AS DOUBLE[]) AS se
               FROM embeddings WHERE label = 0),
    t AS (SELECT vec_id AS tgt_id, CAST(embedding AS DOUBLE[]) AS te
          FROM embeddings WHERE label = 1),
    mp AS MATERIALIZED (
      SELECT src_id, tgt_id,
             CAST(FLOOR(({_COS_SQL.format(a="s.se", b="t.te")})
                        * 1000000.0) AS BIGINT) AS cos_e6
      FROM t, s),
    max_ AS (
      SELECT src_id, CAST(SUM(cos_e6) AS BIGINT) AS axs
      FROM (SELECT src_id, cos_e6,
                   ROW_NUMBER() OVER (PARTITION BY src_id
                                      ORDER BY cos_e6 DESC, tgt_id) AS rn
            FROM mp)
      WHERE rn <= {_sim.BITEXT_MARGIN_K} GROUP BY 1),
    may AS (
      SELECT tgt_id, CAST(SUM(cos_e6) AS BIGINT) AS ays
      FROM (SELECT tgt_id, cos_e6,
                   ROW_NUMBER() OVER (PARTITION BY tgt_id
                                      ORDER BY cos_e6 DESC, src_id) AS rn
            FROM mp)
      WHERE rn <= {_sim.BITEXT_MARGIN_K} GROUP BY 1),
    msc AS MATERIALIZED (
      SELECT p.src_id, p.tgt_id, p.cos_e6,
             {ratio_round_sql(str(2 * _sim.BITEXT_MARGIN_K) + " * p.cos_e6", "x.axs + y.ays", 4)} AS margin
      FROM mp p
      JOIN max_ x ON x.src_id = p.src_id
      JOIN may y ON y.tgt_id = p.tgt_id
      WHERE x.axs + y.ays > 0),
    mfwd AS (
      SELECT src_id, tgt_id, cos_e6, margin,
             ROW_NUMBER() OVER (PARTITION BY src_id
                                ORDER BY margin DESC, tgt_id) AS rn
      FROM msc),
    mbwd AS (
      SELECT tgt_id, src_id AS bsrc,
             ROW_NUMBER() OVER (PARTITION BY tgt_id
                                ORDER BY margin DESC, src_id) AS rn
      FROM msc)
    SELECT f.src_id, f.tgt_id, f.cos_e6, f.margin,
           CAST(CASE WHEN b.bsrc = f.src_id THEN 1 ELSE 0 END
                AS INTEGER) AS mutual
    FROM mfwd f
    JOIN mbwd b ON b.tgt_id = f.tgt_id AND b.rn = 1
    WHERE f.rn = 1
    ORDER BY src_id
    """,
    doc="Margin-based bitext mining [ext/similarity/mining]: the "
    "Artetxe & Schwenk ratio-margin criterion (LASER/CCMatrix) between "
    "two label populations standing in for two languages - "
    "margin(x,y) = cos(x,y) / ((avg_k cos(x,T) + avg_k cos(y,S)) / 2), "
    "normalizing hub vectors' inflated raw cosines away. Per source: "
    "the margin-best target, the cosine in floored integer 1e-6 units, "
    "the margin as an exact integer quotient (ratio_round(2k*cos_e6, "
    "sum_topk(x) + sum_topk(y), 4); rows with non-positive top-k mass "
    "dropped so the margin rank never orders NULLs), and a mutual flag "
    "(forward-backward consistency - the mined-pair criterion). "
    "Bit-exact: cosine doubles are IEEE-identical cross-engine, FLOOR "
    "to units is therefore identical, and every normalizer is an "
    "order-free integer sum. Scale: label-bounded sides make exact "
    "|S|x|T| scoring the oracle-able semantics; at corpus scale the "
    "candidates AND normalizer pools come from the IVF index (ivf_topk "
    "probes), same margin arithmetic. Norms hoisted once per row; "
    "pair and scored tables checkpointed once each (3 and 2 consumers).",
)(_embedding_bitext_margin_q)


# --------------------------------------------------------------------------
# Public API consumed by __spark_entry__.py
# --------------------------------------------------------------------------

#: The driver contract's entry order. This is the round driver's window
#: rotation (stalest CORRECTNESS row first) as it stood after r11, frozen:
#: the driver no longer rotates, so the order is a written fact, pinned by
#: tests/test_registry_guard.py. A new entry is added here by hand.
QUERY_ORDER: tuple[str, ...] = (
    "v_status_preferences_aggonly",
    "rolling_time_features",
    "dataset_dsir_weights",
    "text_bm25_topk",
    "dedup_group_representatives",
    "dedup_incremental_batch",
    "text_remove_dup_spans",
    "corpus_refresh_pipeline",
    "embedding_label_centroids",
    "similarity_hard_negatives",
    "text_structure_signals",
    "source_quality_profile",
    "events_value_winsorize",
    "text_quality_classifier",
    "dataset_mixing_epochs",
    "similarity_topk_pq",
    "similarity_topk_ivfpq",
    "user_retention_cohorts",
    "corpus_vocab_stats",
    "basket_brand_affinity",
    "dedup_cross_source_matrix",
    "customer_rfm_segments",
    "event_transition_matrix",
    "hourly_anomaly_flags",
    "funnel_latency_profile",
    "text_chunking",
    "active_user_counts",
    "dataset_epoch_plan",
    "shipping_priority_topk",
    "returned_item_revenue",
    "local_supplier_volume",
    "late_shipment_orders",
    "user_burst_flags",
    "lang_confusion_matrix",
    "events_weekday_hour_heatmap",
    "orders_open_backlog",
    "dedup_lsh_quality",
    "corpus_dataset_card",
    "forecast_revenue_change",
    "nation_year_revenue",
    "promo_revenue_share",
    "small_qty_revenue",
    "large_order_customers",
    "disjunctive_brand_revenue",
    "supplier_part_variety",
    "dormant_rich_customers",
    "important_part_values",
    "excess_parts_suppliers",
    "text_bpe_merge_stats",
    "text_word_pmi",
    "text_char_entropy",
    "text_ngram_novelty",
    "similarity_topk_matryoshka",
    "nation_pair_volume",
    "dedup_method_agreement",
    "price_percentiles_approx",
    "events_rolling_value_quantiles",
    "approx_distinct_users_per_type",
    "embedding_near_dup",
    "similarity_topk_ivf_kmeans",
    "embedding_cluster_cards",
    "embedding_knn_graph",
    "embedding_semantic_dedup",
    "embedding_semantic_clusters",
    "embedding_quantize_int8",
    "embedding_pq_codes",
    "embedding_pq_codes_trained",
    "similarity_topk_ivfpq_residual",
    "events_heavy_hitters",
    "nation_market_share",
    "events_count_min",
    "dedup_minhash_clusters",
    "dedup_simhash_clusters",
    "dataset_dedup_safe_split",
    "text_tfidf_knn",
    "events_bloom_prefilter",
    "priority_segment_chi2",
    "events_fano_burstiness",
    "source_lang_entropy",
    "events_hourly_autocorr",
    "vocab_oov_rate",
    "daily_activity_recon",
    "user_churn_sets",
    "grouping_sets_revenue",
    "hourly_series_gapfill",
    "daily_click_purchase_corr",
    "customer_trailing_7d_spend",
    "customer_order_distribution",
    "top_revenue_supplier",
    "sole_blame_late_suppliers",
    "best_balance_supplier_per_part",
    "events_ewma_hourly",
    "part_copurchase_pagerank",
    "embedding_dim_covariance",
    "tokenizer_fertility",
    "text_compression_signals",
    "events_cusum_drift",
    "monthly_seasonal_index",
    "parts_abc_classes",
    "supplier_leadtime_profile",
    "embedding_binary_codes",
    "similarity_topk_hamming",
    "data_quality_audit",
    "dataset_weighted_sample",
    "orders_exact_median_scalable",
    "customer_spend_gini",
    "dedup_containment",
    "users_hll_estimate",
    "hourly_anomaly_mad",
    "monthly_revenue_trend",
    "dataset_curriculum_head",
    "retrieval_recall_hamming",
    "corpus_zipf_fit",
    "graph_triangle_census",
    "users_hll_overlap",
    "events_key_skew_profile",
    "docs_adaptive_quality_filter",
    "embedding_knn_label_eval",
    "customer_cohort_ltv",
    "events_user_entropy",
    "embedding_pca_spectrum",
    "part_copurchase_topk",
    "supplier_part_hhi",
    "user_scd2_intervals",
    "dedup_impact_report",
    "events_holt_trend",
    "orders_near_duplicate_invoices",
    "text_bigram_logprob",
    "markov_prediction_accuracy",
    "embedding_label_outliers",
    "shipping_lag_survival",
    "orders_pareto_front",
    "events_ab_test_report",
    "dataset_sharding_plan",
    "customer_kanonymity_audit",
    "customer_merge_upsert_report",
    "orders_benford_screen",
    "part_copurchase_hops",
    "orders_rolling_ols_slope",
    "docs_cas_chunk_dedup",
    "user_out_of_order_profile",
    "nation_revenue_yoy",
    "gdpr_delete_impact",
    "neyman_allocation_plan",
    "users_sliding_hll_24h",
    "invoice_duplicate_clusters",
    "events_window_funnel",
    "purchase_linear_attribution",
    "orders_snapshot_diff",
    "docs_keyphrases",
    "hourly_error_streaks",
    "orders_trimmed_mean_scalable",
    "dataset_grouped_kfold",
    "events_top_paths",
    "part_croston_forecast",
    "retrieval_ndcg",
    "events_zorder_layout",
    "classifier_calibration_bins",
    "dataset_temporal_split",
    "retrieval_rrf_fusion",
    "retrieval_mrr",
    "table_stats_profile",
    "events_idempotent_dedup",
    "orders_unpivot_measures",
    "orders_table_checksum",
    "price_histogram_equidepth",
    "customer_balance_rank_profile",
    "events_hourly_gapfill_locf",
    "doc_prefix_edit_pairs",
    "join_cardinality_profile",
    "events_partition_checksums",
    "text_inverted_index",
    "dataset_datacard",
    "similarity_triplets",
    "text_winnowing_fingerprints",
    "dedup_aware_sample_weights",
    "referential_integrity_audit",
    "embedding_psi_drift",
    "orders_theilsen_trend",
    "orders_winsorized_stats",
    "dedup_threshold_sweep",
    "retrieval_mmr_rerank",
    "langid_kappa",
    "events_seasonal_decompose",
    "winnowing_recall_audit",
    "events_value_auc",
    "segment_priority_target_encoding",
    "text_readability_scores",
    "acctbal_woe_iv",
    "graph_local_clustering",
    "events_value_ks_test",
    "orders_mann_kendall",
    "graph_degree_assortativity",
    "graph_kcore",
    "graph_hits",
    "events_ks_fdr",
    "events_value_wasserstein",
    "orders_bootstrap_ci",
    "events_cuped",
    "orders_forecast_backtest",
    "customer_repeat_survival",
    "events_did",
    "customer_tcloseness_audit",
    "qty_pivot_returnflag",
    "vip_premium_subset",
    "anomaly_by_type",
    "anomaly_rate",
    "acctbal_buckets",
    "in_list_filter",
    "distinct_event_types",
    "segment_revenue",
    "top3_priorities_per_segment",
    "price_percentiles",
    "rollup_status_priority",
    "text_tfidf_top_terms",
    "json_props_stats",
    "similarity_topk_ivf_nprobe2",
    "distinct_users_per_type",
    "multimodal_frames",
    "cube_status_priority",
    "price_dispersion_stats",
    "char_shingle_profile",
    "multimodal_resize_plan",
    "multimodal_features",
    "pii_scan",
    "part_copurchase_ppr_expansion",
    "customer_ldiversity_audit",
    "events_dp_noisy_counts",
    "graph_negative_samples",
    "retrieval_rocchio_prf",
    "events_conformal_interval",
    "classifier_ece",
    "parts_price_elasticity",
    "events_top_values_salted",
    "retrieval_rbo_exact_vs_ivf",
    "parts_xyz_classes",
    "events_markov_stationary",
    "dedup_longest_common_run",
    "graph_lpa_communities",
    "graph_link_prediction_cn",
    "text_bpe_trainer",
    "text_bpe_apply",
    "text_hashed_features",
    "text_perceptron_trainer",
    "classifier_perceptron_eval",
    "retrieval_recall_sweep",
    "ivf_cell_stats",
    "dataset_shard_merge_plan",
    "ivf_cell_split_plan",
    "ivf_apply_cell_plan",
    "ivf_post_apply_codebook",
    "ivf_maintenance_report",
    "embedding_bitext_margin",
    "v_price_bucket_preferences",
    "v_status_preferences",
    "v_segment_preferences",
    "v_bucket_status_priority",
    "pricing_summary",
    "global_stats",
    "value_counts_event_type",
    "hourly_series",
    "top_categories_by_revenue",
    "latest_events",
    "histogram_event_value",
    "pivot_segment_status",
    "dedup_exact",
    "dedup_prefix_fingerprint",
    "dedup_ngram_jaccard",
    "dedup_connected_components",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "similarity_topk_bruteforce",
    "similarity_topk_ivf",
    "embedding_near_dup_exact_baseline",
    "text_lang_id",
    "text_token_counts",
    "text_quality_scores",
    "text_fingerprints",
    "text_repetition_signals",
    "dataset_hash_split",
    "regional_revenue",
    "customers_without_big_orders",
    "corpus_curation_pipeline",
    "salted_segment_revenue",
    "user_event_sequences",
    "purchases_within_hour",
    "dataset_stratified_sample",
    "multimodal_metadata",
    "latest_orders_scan",
    "priority_status_matrix",
    "sql_view_interface",
    "session_windows_events",
    "asof_click_purchase",
    "benchmark_contamination",
    "dataset_greedy_pack",
    "corpus_decontamination_pipeline",
    "text_boilerplate_phrases",
    "text_span_dup_profile",
    "dataset_source_cap",
    "lang_temperature_weights",
    "quality_rank_deciles",
    "text_unigram_logprob",
    "events_funnel",
)


def _put_in_order(registry: dict[str, QuerySpec], names: tuple[str, ...]) -> None:
    """Re-key ``registry`` in place into the order of ``names``; ValueError
    (before any change) unless ``names`` lists every registered entry
    exactly once."""
    twice = sorted({n for n in names if names.count(n) > 1})
    missing = sorted(set(registry) - set(names))
    extra = sorted(set(names) - set(registry))
    if twice or missing or extra:
        raise ValueError(
            f"QUERY_ORDER lists twice {twice}, misses {missing}, "
            f"names unregistered {extra}"
        )
    ordered = {n: registry[n] for n in names}
    registry.clear()
    registry.update(ordered)


_put_in_order(REGISTRY, QUERY_ORDER)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: spec.builder for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in REGISTRY.items()}
