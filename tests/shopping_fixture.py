"""Shopping-orders fixture helpers shared by streaming + view-parity tests."""

from __future__ import annotations

import json
import os

from streamlit_projet_spark_streaming_spark.sources.shopping import RAW_ORDER_SCHEMA, generate_raw_orders


def raw_df(spark, n_rows: int = 5000, seed: int = 42):
    rows = generate_raw_orders(n_rows, seed)
    return spark.createDataFrame(rows, RAW_ORDER_SCHEMA)


def write_json_chunks(rows: list[dict], out_dir: str, n_chunks: int = 5) -> list[str]:
    """Replay files for the file-source stream: n_chunks JSON-lines files."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    per = (len(rows) + n_chunks - 1) // n_chunks
    for c in range(n_chunks):
        chunk = rows[c * per : (c + 1) * per]
        if not chunk:
            break
        path = os.path.join(out_dir, f"orders_{c:04d}.json")
        with open(path, "w") as f:
            for r in chunk:
                rec = dict(r)
                rec["processed_time"] = r["processed_time"].strftime(
                    "%Y-%m-%dT%H:%M:%S.%f"
                )
                f.write(json.dumps(rec) + "\n")
        paths.append(path)
    return paths
