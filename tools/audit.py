"""One audit harness: five robustness axes over the registry, one sweep.

Each axis is a class of cross-host failure that the plain oracle compare
(``tests/oracle_harness.compare``, the engine-vs-oracle result check)
passes on today's fixtures:

- ``libm``: every oracle whose SQL calls ln/exp/power/pow is re-run with
  each such call scaled by (1 ± delta). ``ln``/``exp``/``pow`` are not
  bit-identical across hosts (JVM Math.log intrinsics vs the host libm vs
  DuckDB's build: the ``dataset_weighted_sample`` flip); ``sqrt`` and
  + − × / are IEEE-exact and never audit-relevant. delta = 1e-9 is six
  orders of magnitude beyond real cross-host error (a few ulps ~ 1e-15);
  the multiplicative form leaves exact points like ln(1) = 0 unperturbed.
  A flip means a ROUND half-grid or rank boundary sits within libm noise.
- ``degenerate``: the full compare on a copy of the sf0.001 fixtures with
  edge rows appended (``build_fixture``): empty/NULL/unicode text, zero
  and non-finite vectors, NaN money, NULL identities, time extremes —
  rows a fixture regeneration may ship. Catches ANSI crashes and
  Spark-vs-DuckDB NULL-ordering splits. An SF_DIR argument names an
  already-built fixture; without one it is rebuilt into ``DST``.
- ``partition``: the full compare under two hostile sessions
  (``PARTITION_CONFS``): one shuffle partition with AQE off, 7-row Arrow
  batches and fragmented input splits; 37 partitions with AQE on and
  3-row batches. Catches output that depends on partition count, split
  packing or Arrow batch boundaries.
- ``duckdb-shape``: every oracle under DuckDB threads 1/3/wide ×
  insertion order on/off (``SHAPES``), the oracle-side twin of
  ``partition``: parallel float summation order follows the host's core
  count, so a flip means a hashed double aggregate sits on a ROUND
  half-grid.
- ``bitwise``: the full compare with floats at 10 significant digits
  instead of the canonicalizer's ROUND(x, 4): a pass means engine and oracle
  values agree below any canonicalizer's grid.

Run:  python tools/audit.py AXIS [SF_DIR] [ENTRY ...]

SF_DIR is recognized by being an existing directory; the default is
sf0.01 for libm, duckdb-shape and bitwise, sf0.001 for partition. Exit 0
= every audited entry passes, 1 = some entry fails, 2 = unknown axis or
entry, reported before any Spark session starts or fixture is built.
Fast pytest subsets: tests/test_libm_robustness.py,
test_degenerate_fixture.py, test_partition_invariance.py,
test_duckdb_shape_invariance.py.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import time
from collections.abc import Callable, Iterator
from typing import NamedTuple

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.conftest import SF_CORRECT, SF_SMOKE  # noqa: E402
from tests.oracle_harness import canonical_rows, compare, duckdb_conn  # noqa: E402

Check = Callable[[str], list]

# --------------------------------------------------------------------------
# libm
# --------------------------------------------------------------------------

_TOKEN = re.compile(r"\b(ln|exp|power|pow)\s*\(", re.IGNORECASE)

#: Relative perturbation of every ln/exp/power/pow call.
LIBM_DELTA = 1e-9

#: Entries whose hashed surface SUMS ~corpus-many individually-rounded
#: transcendental terms (per-doc NLL = Σ ROUND(tf·ln(p), 6)). The
#: multiplicative audit perturbs every term COHERENTLY — at δ=1e-9
#: roughly δ/grid of all terms flip together and some per-doc sum
#: moves — while real libm error is per-value ±few-ulps noise
#: (~1e-15, incoherent), so the coherent gate overstates their risk by
#: ~10^6. These audit at 1e-12 (still 1000× any real cross-host
#: spread); every PER-ROW surface keeps the strict 1e-9 gate.
SUMMED_TERM_TIER = frozenset(
    {"text_unigram_logprob", "text_bigram_logprob"}
)


def entry_delta(name: str, default: float) -> float:
    return min(default, 1e-12) if name in SUMMED_TERM_TIER else default


def _wrap_calls(sql: str, factor: str) -> tuple[str, int]:
    """Wrap every ln/exp/power/pow(<args>) call as ((call) * factor).

    Balanced-paren scan (oracle SQL contains no string literals with
    parens near these calls; a quote-aware scan guards the general case).
    Returns (new_sql, n_wrapped).
    """
    out = []
    i = 0
    n = 0
    while True:
        m = _TOKEN.search(sql, i)
        if not m:
            out.append(sql[i:])
            break
        start, open_paren = m.start(), m.end() - 1
        # find the matching close paren, skipping quoted strings
        depth = 0
        j = open_paren
        in_q: str | None = None
        while j < len(sql):
            c = sql[j]
            if in_q:
                if c == in_q:
                    in_q = None
            elif c in ("'", '"'):
                in_q = c
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            raise ValueError(f"unbalanced parens after {m.group(0)!r}")
        inner, _ = _wrap_calls(sql[open_paren + 1 : j], factor)
        call = f"{m.group(1)}({inner})"
        out.append(sql[i:start])
        out.append(f"(({call}) * {factor})")
        n += 1 + inner.count(factor)  # nested wraps counted via recursion
        i = j + 1
    return "".join(out), n


def transcendental_entries(oracles: dict[str, str]) -> dict[str, str]:
    return {
        name: sql for name, sql in oracles.items() if _TOKEN.search(sql)
    }


def libm_problems(con, sql: str, delta: float) -> list[str]:
    """Return [] if the oracle output is invariant under ±delta
    perturbation of every ln/exp/power call, else mismatch notes."""
    perturbed = []
    for sign in "+-":
        wrapped, n = _wrap_calls(sql, f"(1.0 {sign} {delta!r})")
        if n == 0:
            raise ValueError("no ln/exp/power/pow call to perturb")
        perturbed.append((sign, wrapped))
    base = canonical_rows(con.execute(sql).fetchdf())
    problems = []
    for sign, wrapped in perturbed:
        got = canonical_rows(con.execute(wrapped).fetchdf())
        if got != base:
            diff = list((got - base).items())[:3]
            problems.append(f"flips under {sign}{delta:g} perturbation: {diff}")
    return problems


# --------------------------------------------------------------------------
# duckdb-shape
# --------------------------------------------------------------------------

SHAPES = (
    ("serial", {"threads": 1, "preserve_insertion_order": True}),
    # pinned to >=8 so a low-core host can't quietly degenerate "wide"
    # into the serial shape — the sweep exists to contrast
    # summation orders, which needs real thread parallelism
    ("wide", {"threads": max(os.cpu_count() or 8, 8), "preserve_insertion_order": False}),
    ("odd", {"threads": 3, "preserve_insertion_order": False}),
)


def shape_problems(cons, sql: str) -> list[str]:
    """Return [] if ``sql`` yields one canonical multiset on every
    ``(shape_name, connection)`` of ``cons``, else mismatch notes."""
    results = {}
    for shape_name, con in cons:
        results[shape_name] = canonical_rows(con.execute(sql).fetchdf())
    base_name, base = next(iter(results.items()))
    problems = []
    for shape_name, got in results.items():
        if got != base:
            # symmetric difference: a one-sided Counter subtraction is
            # empty when `got` is a strict subset of `base` (review
            # catch — a dropped row would report as '[]')
            diff = list(((got - base) + (base - got)).items())[:3]
            problems.append(
                f"{shape_name} differs from {base_name}: {diff}"
            )
    return problems


# --------------------------------------------------------------------------
# partition
# --------------------------------------------------------------------------

#: Hostile runtime SQL confs per session label. The pytest subset sets
#: them on its shared session; the CLI also gives each label its own core
#: count (``PARTITION_CORES``; local[N] sets the default parallelism).
PARTITION_CONFS = {
    "one-partition": {
        "spark.sql.shuffle.partitions": "1",
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "7",
        "spark.sql.files.maxPartitionBytes": str(64 * 1024),
        "spark.sql.files.openCostInBytes": "0",
    },
    "prime-partitions": {
        "spark.sql.shuffle.partitions": "37",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16384",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "3",
    },
}
PARTITION_CORES = {"one-partition": 5, "prime-partitions": 3}


# --------------------------------------------------------------------------
# degenerate
# --------------------------------------------------------------------------

SRC = SF_SMOKE
DST = "/tmp/degen_sf"


def build_fixture(dst: str = DST) -> str:
    """Build the degenerate fixture into ``dst``. Callers that may run
    CONCURRENTLY with another builder (the pytest guard vs a CLI sweep)
    pass their own dir — the parquet COPY rewrites are not atomic, so
    sharing one dir across processes can read a truncated file."""
    import duckdb

    DST = dst
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    for t in ("region", "nation"):
        shutil.copy(os.path.join(SRC, f"{t}.parquet"), DST)

    # v8: TPC-H-side probes — the money columns are the same nullable
    # DOUBLEs as events.value (NaN possible in a regen, feeding the
    # same ANSI fixed-point casts), the date columns the same TS_COLS
    # class as events.ts, and the keys the same referential surface.
    # Keys sit far above the generator's range; dates inside its
    # [1995, 2001] window.
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/orders.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            -- NaN / NULL money (nulled at the catalog boundary)
            (9000001, 1, 'O', 'nan'::DOUBLE, TIMESTAMP '1997-06-15',
             '1-URGENT'),
            (9000002, 1, 'O', CAST(NULL AS DOUBLE),
             TIMESTAMP '1997-06-16', '5-LOW'),
            -- NULL order date (row dropped at the boundary)
            (9000003, 1, 'P', 123.45, CAST(NULL AS TIMESTAMP),
             '3-MEDIUM'),
            -- orphan customer key (referential probe)
            (9000004, 8999999, 'F', 50.0, TIMESTAMP '1997-06-17',
             '2-HIGH'),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), 1, 'O', 10.0,
             TIMESTAMP '1997-06-18', '5-LOW')
          ) t(o_orderkey, o_custkey, o_orderstatus, o_totalprice,
              o_orderdate, o_orderpriority)
        ) TO '{DST}/orders.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/lineitem.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            -- NaN extendedprice / NULL quantity (nulled at boundary)
            (9000001, 1, 1, 1, 5.0, 'nan'::DOUBLE, 0.05, 0.02,
             'N', 'O', TIMESTAMP '1997-07-01'),
            (9000001, 1, 1, 2, CAST(NULL AS DOUBLE), 100.0, 0.0, 0.0,
             'N', 'O', TIMESTAMP '1997-07-02'),
            -- zero quantity at 100% discount (zero-revenue row) and a
            -- negative-quantity return
            (9000002, 2, 1, 1, 0.0, 0.0, 1.0, 0.0,
             'R', 'F', TIMESTAMP '1997-07-03'),
            (9000002, 2, 1, 2, -5.0, -500.0, 0.1, 0.0,
             'R', 'F', TIMESTAMP '1997-07-04'),
            -- NULL ship date (row dropped at the boundary)
            (9000003, 3, 1, 1, 1.0, 10.0, 0.0, 0.0,
             'N', 'O', CAST(NULL AS TIMESTAMP)),
            -- orphan order key (referential probe)
            (9000005, 3, 1, 1, 1.0, 10.0, 0.0, 0.0,
             'N', 'O', TIMESTAMP '1997-07-05'),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), 3, 1, 1, 1.0, 10.0, 0.0, 0.0,
             'N', 'O', TIMESTAMP '1997-07-06')
          ) t(l_orderkey, l_partkey, l_suppkey, l_linenumber,
              l_quantity, l_extendedprice, l_discount, l_tax,
              l_returnflag, l_linestatus, l_shipdate)
        ) TO '{DST}/lineitem.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/customer.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (8999001, 'degen nan balance', 0, 'nan'::DOUBLE,
             'HOUSEHOLD'),
            -- empty name, NULL balance, novel segment enum
            (8999002, '', 0, CAST(NULL AS DOUBLE), 'NOVEL_SEGMENT'),
            -- orphan nation key
            (8999003, 'orphan nation', 99, 0.0, 'MACHINERY'),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), 'identity-less customer', 0, 1.0,
             'BUILDING')
          ) t(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
        ) TO '{DST}/customer.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/part.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (8999001, 'degen part nan', 'Brand#99', 'NOVEL_TYPE', 0,
             'nan'::DOUBLE),
            (8999002, '', 'Brand#13', 'ECONOMY', -1,
             CAST(NULL AS DOUBLE))
          ) t(p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
        ) TO '{DST}/part.parquet' (FORMAT PARQUET)
        """
    )
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/supplier.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (8999001, 'degen supp', 99, 'nan'::DOUBLE)
          ) t(s_suppkey, s_name, s_nationkey, s_acctbal)
        ) TO '{DST}/supplier.parquet' (FORMAT PARQUET)
        """
    )

    # documents: preserve encodings via CTAS-union. doc_ids far above the
    # fixture range; n_chars consistent with text (the generator contract).
    # Includes NULL text/lang (v2) — NULLs entering group keys, length
    # arithmetic, and rank measures exercise the NULLS-placement and
    # NULL-propagation divergence classes directly.
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/documents.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (900001, '', 'en', 'src0', 0),
            (900002, '   ', 'en', 'src0', 3),
            (900003, 'word', 'en', 'src1', 4),
            (900004, '!!! ??? ... ---', 'en', 'src1', 15),
            (900005, 'héllo wörld 中文 привет héllo wörld 中文 привет',
             'de', 'src2', 44),
            (900006, 'dup dup dup dup dup dup dup dup dup dup dup dup',
             'en', 'src2', 47),
            (900007, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
             'src0', CAST(NULL AS BIGINT)),
            (900008, 'plain text here', CAST(NULL AS VARCHAR), 'src1', 15),
            (900009, 'novel language and source document text',
             'xx', 'src_novel', 39),
            -- v4: full-vs-simple case-mapping divergence probes (İ adds a
            -- combining dot under JVM FULL lower; ΣΟΦΟΣ final sigma is
            -- context-sensitive; ß/ﬁ expand under FULL upper). Any surface
            -- still calling engine lower()/upper() instead of the portable
            -- ascii_lower flips on this row.
            (900010, 'İstanbul ß ΣΟΦΟΣ ﬁle DŽUNGLA Iı MIXED Case',
             'tr', 'src2', length('İstanbul ß ΣΟΦΟΣ ﬁle DŽUNGLA Iı MIXED Case')),
            -- v4: exotic-whitespace probe (VT U+000B, FF, CR, NBSP).
            -- Java's \\s matches VT, RE2's does not — any surface still
            -- tokenizing on \\s+ instead of the explicit WS_CLASS flips
            -- here. NBSP is a NON-space on both engines (stays in-token).
            (900011, concat('alpha', chr(11), 'beta', chr(12), 'gamma',
                            chr(13), 'delta', chr(160), 'epsilon  zeta'),
             'en', 'src0',
             length(concat('alpha', chr(11), 'beta', chr(12), 'gamma',
                           chr(13), 'delta', chr(160), 'epsilon  zeta'))),
            -- v4: leading/trailing UNICODE whitespace (NBSP + U+3000).
            -- One-arg DuckDB trim strips these, Spark's strips ASCII
            -- space only — any oracle still using one-arg trim flips.
            (900012, concat(chr(160), 'nbsp edges here', chr(12288)),
             'en', 'src1',
             length(concat(chr(160), 'nbsp edges here', chr(12288)))),
            -- v4: emoji / combining char / supplementary plane — pins the
            -- measured code-point agreement of length/substr/regex.
            (900013, 'emoji 👍 text é combining 🇫🇷 flag',
             'en', 'src2', length('emoji 👍 text é combining 🇫🇷 flag')),
            -- v5: size-dimension probes — a ~53k-char document and a
            -- single 5000-char word push per-doc machinery (shingles,
            -- winnowing windows, BPE symbol folds, char-entropy grids,
            -- chunking) far beyond the generator's length range; both
            -- must stay engine-consistent, not just not-crash.
            (900014,
             repeat('the quick brown fox jumps over the lazy dog ', 1200),
             'en', 'src0',
             length(repeat('the quick brown fox jumps over the lazy dog ',
                           1200))),
            (900015, repeat('a', 5000), 'en', 'src1', 5000),
            -- v9: NULL identity (row dropped at the boundary — a
            -- NULL doc_id in any rank tie-breaker splits on engine
            -- NULLS placement) and NULL source (ATTRIBUTE — kept;
            -- source-grouped rankings must handle the NULL group
            -- identically on both engines)
            (CAST(NULL AS BIGINT), 'identity-less document', 'en',
             'src0', 22),
            (900016, 'document with null source', 'en',
             CAST(NULL AS VARCHAR), 25),
            -- v9: NUL byte inside text — probed bit-identical on both
            -- engines (length/md5/split all agree); pinned so an
            -- engine upgrade cannot silently regress NUL-safety
            (900017, concat('nul', chr(0), 'byte doc text'), 'en',
             'src0', length(concat('nul', chr(0), 'byte doc text')))
          ) t(doc_id, "text", lang, source, n_chars)
        ) TO '{DST}/documents.parquet' (FORMAT PARQUET)
        """
    )
    # embeddings: zero vector (norm 0 → cosine 0/0), exact-duplicate pair,
    # a one-hot vector. FLOAT[] element type must match.
    zero = "[" + ", ".join(["0.0"] * 64) + "]"
    onehot = "[" + ", ".join(["1.0"] + ["0.0"] * 63) + "]"
    onehot_63 = "[" + ", ".join(["1.0"] + ["0.0"] * 62) + "]"
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/embeddings.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (900001, CAST({zero} AS FLOAT[]), 0),
            (900002, CAST({onehot} AS FLOAT[]), 1),
            (900003, CAST({onehot} AS FLOAT[]), 1),
            (900004, CAST({onehot} AS FLOAT[]), CAST(NULL AS INTEGER)),
            -- v6: non-finite components — a NaN or Inf coordinate
            -- poisons every cosine and crashes the integer-unit Arrow
            -- mappers (int(round(nan))); excluded at the catalog
            -- boundary on both engines alongside zero vectors.
            (900005, CAST(list_append({onehot_63}, 'nan'::FLOAT)
                          AS FLOAT[]), 1),
            (900006, CAST(list_append({onehot_63}, 'infinity'::FLOAT)
                          AS FLOAT[]), 1),
            -- -Inf exercises the list_min arm of the filter separately
            -- (review catch: a regression confined to the min clause
            -- would otherwise pass the audit)
            (900007, CAST(list_append({onehot_63}, '-infinity'::FLOAT)
                          AS FLOAT[]), 1),
            -- v9: NULL identity (dropped at the boundary)
            (CAST(NULL AS BIGINT), CAST({onehot} AS FLOAT[]), 1)
          ) t(vec_id, embedding, label)
        ) TO '{DST}/embeddings.parquet' (FORMAT PARQUET)
        """
    )
    # events: zero value, negative value, duplicate timestamp pair on one
    # user, empty props. Keep ts inside the fixture's time range so
    # windowed entries see them.
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{SRC}/events.parquet')
          UNION ALL
          SELECT * FROM (VALUES
            (900001, TIMESTAMP '2024-01-02 03:04:05', 13, 'click', 0.0, '{{}}'),
            (900002, TIMESTAMP '2024-01-02 03:04:05', 13, 'click', 0.0, '{{}}'),
            (900003, TIMESTAMP '2024-01-02 03:04:06', 13, 'purchase', -1.5,
             '{{}}'),
            (900004, TIMESTAMP '2024-01-02 03:04:07', 13, 'view',
             CAST(NULL AS DOUBLE), CAST(NULL AS VARCHAR)),
            (900005, TIMESTAMP '2024-01-03 00:00:00', 901, 'brand_new_type',
             7.25, '{{"k": 1}}'),
            -- v4: magnitude probe — a value ~1e9 beyond the generator's
            -- range exercises every fixed-point (cents / micro-unit)
            -- conversion for int64 headroom without overflowing it.
            (900006, TIMESTAMP '2024-01-03 00:00:01', 901, 'purchase',
             7250000000.0, '{{}}'),
            -- v4: NaN measurement — passes IS NOT NULL filters, then
            -- crashes the ANSI cents cast (13 crashes + 2 silent
            -- divergences when probed). Nulled at the catalog boundary
            -- on both engines (load_table / registry._nan_null_events).
            (900007, TIMESTAMP '2024-01-03 00:00:02', 901, 'purchase',
             'nan'::DOUBLE, '{{}}'),
            -- v5: malformed / non-integral props JSON — DuckDB's
            -- json_extract ERRORS where Spark's get_json_object returns
            -- NULL, and DuckDB TRY_CAST('1.5'→2) ROUNDS where Spark
            -- NULLs; closed by the json_valid + integral-string guard
            -- (registry._JSON_K_SQL). Props is also a window group key
            -- elsewhere (opaque string — no parse there).
            (900008, TIMESTAMP '2024-01-03 00:00:03', 902, 'click', 1.0,
             '{{bad json'),
            (900009, TIMESTAMP '2024-01-03 00:00:04', 902, 'click', 1.0,
             '{{"k": "notanum"}}'),
            (900010, TIMESTAMP '2024-01-03 00:00:05', 902, 'click', 1.0,
             '{{"k": 1.5}}'),
            -- v6: NULL timestamp — unplaceable in time; a NULL ts in a
            -- rank tie-breaker splits on Spark-vs-DuckDB NULLS
            -- placement. Dropped at the catalog boundary on both
            -- engines (row must NOT appear in any count).
            (900011, CAST(NULL AS TIMESTAMP), 903, 'click', 2.0, '{{}}'),
            -- v7: time-range extremes — epoch 0 and year 9999 probe
            -- every hour/day grid, window frame, and epoch-unit cast
            -- for bounded-timespan assumptions (no entry may
            -- materialize a DENSE min..max grid; day fans are
            -- explode-bounded). Both stay inside int64 epoch-micros.
            (900012, TIMESTAMP '1970-01-01 00:00:00', 904, 'click', 1.0,
             '{{}}'),
            (900013, TIMESTAMP '9999-12-31 23:59:59', 904, 'view', 1.0,
             '{{}}'),
            -- the same far-future probe ON the LOCF subseries (user_id
            -- 970 ≡ 0 mod 97, purchase) — drives the bounded-gapfill
            -- break path of events_hourly_gapfill_locf, which the
            -- 904 rows miss through its filter
            (900014, TIMESTAMP '9999-12-31 23:00:00', 970, 'purchase',
             1.0, '{{}}'),
            -- v9: NULL identities (rows dropped at the boundary — an
            -- actor-less or type-less event is malformed telemetry and
            -- a NULL in either column splits rank tie-breakers /
            -- window partitions on engine NULLS placement)
            (900015, TIMESTAMP '2024-01-04 00:00:00',
             CAST(NULL AS BIGINT), 'click', 1.0, '{{}}'),
            (900016, TIMESTAMP '2024-01-04 00:00:01', 905,
             CAST(NULL AS VARCHAR), 1.0, '{{}}'),
            (CAST(NULL AS BIGINT), TIMESTAMP '2024-01-04 00:00:02', 905,
             'view', 1.0, '{{}}')
          ) t(event_id, ts, user_id, event_type, "value", props)
        ) TO '{DST}/events.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return DST


# --------------------------------------------------------------------------
# the sweep
# --------------------------------------------------------------------------

#: the oracle compare's session shape (degenerate and bitwise axes)
COMPARE_CORES, COMPARE_CONFS = 4, {"spark.sql.shuffle.partitions": "4"}


def _session(cores: int, confs: dict[str, str]):
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
        # a fresh JVM-side context needs the old one fully gone
        time.sleep(1)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("audit")
        .config("spark.driver.memory", "8g")
    )
    for k, v in confs.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _oracle_compare(spark, sf_dir: str, e, float_fmt: str = ".4f") -> Check:
    con, qs, oracles = duckdb_conn(sf_dir), e.queries(), e.oracle_sql()
    return lambda name: compare(
        qs[name](spark, sf_dir), con, oracles[name], name, float_fmt=float_fmt
    )


def _libm(sf_dir: str, e) -> Iterator[tuple[str, Check]]:
    con, oracles = duckdb_conn(sf_dir), e.oracle_sql()
    yield "", lambda name: libm_problems(
        con, oracles[name], entry_delta(name, LIBM_DELTA)
    )


def _duckdb_shape(sf_dir: str, e) -> Iterator[tuple[str, Check]]:
    cons = [(label, duckdb_conn(sf_dir, config=cfg)) for label, cfg in SHAPES]
    oracles = e.oracle_sql()
    yield "", lambda name: shape_problems(cons, oracles[name])


def _degenerate(sf_dir: str | None, e) -> Iterator[tuple[str, Check]]:
    sf_dir = sf_dir or build_fixture()
    yield "", _oracle_compare(_session(COMPARE_CORES, COMPARE_CONFS), sf_dir, e)


def _partition(sf_dir: str, e) -> Iterator[tuple[str, Check]]:
    for label, confs in PARTITION_CONFS.items():
        spark = _session(PARTITION_CORES[label], confs)
        yield label, _oracle_compare(spark, sf_dir, e)


def _bitwise(sf_dir: str, e) -> Iterator[tuple[str, Check]]:
    spark = _session(COMPARE_CORES, COMPARE_CONFS)
    yield "", _oracle_compare(spark, sf_dir, e, float_fmt=".10g")


class Axis(NamedTuple):
    """``entries(e)`` names what the axis audits; ``checks(sf_dir, e)``
    yields one ``(label, check)`` per session or connection set."""

    default_dir: str | None
    entries: Callable[..., list[str]]
    checks: Callable[..., Iterator[tuple[str, Check]]]
    verdict: str


AXES = {
    "libm": Axis(
        SF_CORRECT,
        lambda e: list(transcendental_entries(e.oracle_sql())),
        _libm,
        "ROBUST",
    ),
    "degenerate": Axis(
        None, lambda e: list(e.queries()), _degenerate, "DEGENERATE-SAFE"
    ),
    "partition": Axis(
        SF_SMOKE, lambda e: list(e.queries()), _partition, "PARTITION-INVARIANT"
    ),
    "duckdb-shape": Axis(
        SF_CORRECT, lambda e: list(e.oracle_sql()), _duckdb_shape, "INVARIANT"
    ),
    "bitwise": Axis(
        SF_CORRECT, lambda e: list(e.queries()), _bitwise, "BITWISE-IDENTICAL"
    ),
}


def main(argv: list[str]) -> int:
    if not argv or argv[0] not in AXES:
        print(f"usage: python tools/audit.py {{{'|'.join(AXES)}}} [SF_DIR] [ENTRY ...]")
        return 2
    axis_name, args = argv[0], argv[1:]
    axis = AXES[axis_name]
    sf_dir = axis.default_dir
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]

    import __spark_entry__ as e

    names = axis.entries(e)
    unknown = set(args) - set(names)
    if unknown:
        # a typo'd entry (or an SF_DIR that failed isdir and fell through
        # to the entry filter) must not yield a zero-audit false green
        print(f"unknown {axis_name} entries: {sorted(unknown)}")
        return 2
    if args:
        names = [name for name in names if name in args]

    failed: set[str] = set()
    for label, check in axis.checks(sf_dir, e):
        tag = f"[{label}] " if label else ""
        t0 = time.time()
        for name in names:
            try:
                problems = check(name)
            except Exception as ex:  # noqa: BLE001 — report, keep sweeping
                problems = [f"audit error {type(ex).__name__}: {ex}"]
            if problems:
                failed.add(name)
                for p in problems:
                    print(f"FAIL {tag}{name}: {p}", flush=True)
            else:
                print(f"OK {tag}{name}", flush=True)
        print(f"-- {tag}{len(names)} entries in {time.time() - t0:.0f}s", flush=True)

    print(f"\n{axis_name}: {len(names)} entries, {len(failed)} failed")
    if failed:
        print("FAILED:", sorted(failed))
        return 1
    print(f"RESULT: ALL {axis.verdict}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
