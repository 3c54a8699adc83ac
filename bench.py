"""Benchmark runner (driver contract): every registry query at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "all_queries_total", "value": <total sec>, "unit": "sec",
   "queries": {"<name>": sec, ...}, "sf": <scale factor>}

One timed pass over every ``queries()`` entry, each forced with
``.collect()`` (results are all small aggregates / LIMITed scans — nothing
collects a fact table). One untimed warmup of the flagship view amortizes
JVM/codegen startup so the numbers reflect query execution, not session
bring-up.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from streamlit_projet_spark_streaming_spark.registry import queries
from streamlit_projet_spark_streaming_spark.session import get_spark


#: Wall-clock cap per query; a query past it is cancelled and reported.
PER_QUERY_CAP_S = 180.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    spark = get_spark(app_name="streamlit-projet-spark-streaming-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    builders = queries()
    # warmup: run the flagship once, untimed (fail-soft like everything else)
    try:
        builders["v_price_bucket_preferences"](spark, sf_dir).collect()
    except Exception:
        pass

    # Fail-soft per query: one throwing query must cost ONE number, not the
    # whole run (round 4's bench DNF'd because session_windows_events threw
    # and took every other timing with it). A HUNG query is the remaining
    # DNF mode: each collect runs on a worker thread with a wall-clock cap;
    # on timeout the Spark jobs are cancelled (which unblocks the worker)
    # and the query is reported in `errors` instead of stalling the run.
    from concurrent.futures import ThreadPoolExecutor
    from concurrent.futures import TimeoutError as FutureTimeout

    executor = ThreadPoolExecutor(max_workers=1)
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name, builder in builders.items():
        try:
            t0 = time.perf_counter()
            fut = executor.submit(lambda b=builder: b(spark, sf_dir).collect())
            try:
                fut.result(timeout=PER_QUERY_CAP_S)
            except FutureTimeout:
                spark.sparkContext.cancelAllJobs()
                # the cancel surfaces in the worker's collect(); give it
                # a moment to unblock so the single worker is reusable,
                # else abandon the executor and start a fresh one.
                try:
                    fut.result(timeout=30)
                except Exception:  # noqa: BLE001
                    pass
                if not fut.done():
                    executor.shutdown(wait=False, cancel_futures=True)
                    executor = ThreadPoolExecutor(max_workers=1)
                raise TimeoutError(f"exceeded {PER_QUERY_CAP_S:.0f}s cap")
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            print(f"BENCH ERROR {name}: {errors[name]}", file=sys.stderr)
    executor.shutdown(wait=False, cancel_futures=True)

    out = {
        "metric": "all_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
