"""Seeded benchmark inputs.

Every input is a pure function of the run's seed, written with pyarrow
(no Spark), so generating it is never part of a timed region:

- ``write_analyst_tables``: the four catalog tables the analyst entries
  read (``orders``, ``lineitem``, ``documents``, ``embeddings``), sized
  like the sf0.01 fixture and with its value domains: a 30-word
  vocabulary with ~5% near-duplicate documents, 64-dim unit embeddings
  in 10 weak label clusters, TPC-H-style orders and line items.
- ``order_files``: JSON-lines drop files for the streaming workload, built
  from the program's own ``sources.shopping.generate_raw_orders`` and each
  stamped into its own ``processed_time`` hour, so gold's hourly series
  shows exactly when each file became visible; ``valid_stream_rows`` is
  their valid rows as one table, the input of the batch oracle.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

#: Row counts of the analyst tables (the sf0.01 fixture's sizes).
ANALYST_ROWS = {"orders": 15_000, "lineitem": 60_000, "documents": 500, "embeddings": 500}


def _dates(rng: np.random.Generator, n: int) -> pa.Array:
    days = rng.integers(0, 6 * 365 + 212, n)
    base = np.datetime64("1995-01-01", "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n), 2)),
            "o_orderdate": _dates(rng, n),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    n_parts = max(1, n // 30)
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, max(1, n_parts // 20), n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(float)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _dates(rng, n),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate: an earlier document with one marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 100)))
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centroids = rng.normal(size=(labels, dim))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    vecs = 0.15 * centroids[label] + rng.normal(size=(n, dim)) / np.sqrt(dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def write_analyst_tables(out_dir: str, seed: int) -> str:
    """Write the analyst tables as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = ANALYST_ROWS
    tables = {
        "orders": _orders(rng, rows["orders"]),
        "lineitem": _lineitem(rng, rows["lineitem"], rows["orders"]),
        "documents": _documents(rng, rows["documents"]),
        "embeddings": _embeddings(rng, rows["embeddings"]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


RAW_ARROW_SCHEMA = pa.schema(
    [
        ("customer_id", pa.string()),
        ("age", pa.int64()),
        ("gender", pa.string()),
        ("category", pa.string()),
        ("item_purchased", pa.string()),
        ("purchase_amount_usd", pa.float64()),
        ("location", pa.string()),
        ("review_rating", pa.float64()),
        ("subscription_status", pa.string()),
        ("payment_method", pa.string()),
        ("processed_time", pa.timestamp("us", tz="UTC")),
    ]
)


def raw_orders_table(n_rows: int, seed: int) -> pa.Table:
    from streamlit_projet_spark_streaming_spark.sources.shopping import (
        generate_raw_orders,
    )

    return pa.Table.from_pylist(generate_raw_orders(n_rows, seed), schema=RAW_ARROW_SCHEMA)


#: First processed_time hour of the streaming files; file k lands in hour k.
STREAM_T0 = datetime(2024, 6, 1)


def order_files(
    n_files: int, lines_per_file: int, bad_per_file: int, seed: int
) -> list[tuple[bytes, int]]:
    """JSON-lines payloads, one per file, each with ``bad_per_file``
    malformed lines, and the file's count of valid rows.

    File k's valid rows carry a ``processed_time`` inside hour
    ``STREAM_T0 + k``, so its rows form exactly one gold hourly row.
    """
    from streamlit_projet_spark_streaming_spark.sources.shopping import (
        generate_raw_orders,
    )

    good = lines_per_file - bad_per_file
    rows = generate_raw_orders(n_files * good, seed)
    rng = np.random.default_rng(seed + 1)
    files: list[tuple[bytes, int]] = []
    for k in range(n_files):
        hour = STREAM_T0 + timedelta(hours=k)
        lines = []
        for j, r in enumerate(rows[k * good : (k + 1) * good]):
            rec = dict(r)
            rec["processed_time"] = (
                hour + timedelta(milliseconds=int(j * 3_600_000 // good))
            ).strftime("%Y-%m-%dT%H:%M:%S.%f")
            lines.append(json.dumps(rec))
        for _ in range(bad_per_file):
            # rejected before any field parses: an all-NULL record
            lines.insert(int(rng.integers(0, len(lines) + 1)), "not a json record")
        files.append((("\n".join(lines) + "\n").encode(), good))
    return files


def valid_stream_rows(n_files: int, lines_per_file: int, bad_per_file: int, seed: int) -> pa.Table:
    """The valid rows of ``order_files`` as a raw-order table (the oracle's input)."""
    good = lines_per_file - bad_per_file
    table = raw_orders_table(n_files * good, seed)
    times = [
        STREAM_T0 + timedelta(hours=k, milliseconds=int(j * 3_600_000 // good))
        for k in range(n_files)
        for j in range(good)
    ]
    idx = table.schema.get_field_index("processed_time")
    return table.set_column(idx, "processed_time", pa.array(times, RAW_ARROW_SCHEMA.field("processed_time").type))
