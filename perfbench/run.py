"""Benchmark command: one workload, one seed, one fresh process.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs from the root of a source checkout. Spark runs at ``local[<cores>]``
with the program's own session settings. The run sets the workload up
``SETUP_REPS`` times, each on a fresh SparkContext. The first rep also
launches the JVM and is reported alone (``session.cold_start_s``). The
next ``SETUP_WARM`` reps warm the set-up path up, untimed; ``setup_s`` is
the median of the rest. The run then warms the workload up
(untimed), measures it, and checks every output against its oracle.

Standard output ends with two JSON lines. The first holds the workload's
own named metrics (``sweep_s``, ``freshness_p50_s``, ``poll_s``, ...,
``ops_failed_frac``) with units. The last is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``,
``metrics`` holds the end-to-end metrics of ``BENCHMARK.json``. With
``--trace 1`` it holds the per-layer metrics: 0 for a layer the workload
does not touch. The spans go to ``perfbench/.work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, "perfbench", ".work")
SETUP_REPS = 6
SETUP_WARM = 2  # the first warm set-ups ran slowest in most runs


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_session(work: str, cores: int, traced: bool):
    from streamlit_projet_spark_streaming_spark.session import get_spark

    from perfbench.tracing import EVENT_LOG_CONF

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if traced:
        conf.update(EVENT_LOG_CONF)
        conf["spark.eventLog.dir"] = os.path.join(work, "events")
        os.makedirs(conf["spark.eventLog.dir"], exist_ok=True)
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the SparkContext and the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def run(args, cores: int, work: str):
    """Set up, measure and verify one workload; returns its end-to-end
    metrics, its named metrics, the detail line, the workload and its
    outcome."""
    from perfbench import tracing
    from perfbench.workloads import WORKLOADS

    traced = bool(args.trace)
    tracer = tracing.Tracer(traced, f"{args.workload}-{args.seed}-{os.getpid()}")
    wl = WORKLOADS[args.workload](args.seed, args.seconds, work, tracer, cores)
    wl.prepare()
    if traced:
        tracing.patch_load_table(tracer)

    setups: list[float] = []
    sessions: list[float] = []
    spark = None
    for rep in range(SETUP_REPS):
        if spark is not None:
            wl.teardown()
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("setup", rep=rep):
            spark = start_session(work, cores, traced)
            t1 = time.perf_counter()
            wl.setup(spark, rep)
        t2 = time.perf_counter()
        if rep == 0:
            wl.layers["session.cold_start_s"] = t2 - t0
        elif rep > SETUP_WARM:
            setups.append(t2 - t0)
            sessions.append(t1 - t0)
        if traced:
            tracing.count_py4j_calls(spark, tracer)
    wl.layers["session.get_spark_s"] = statistics.median(sessions)
    wl.layers["session.warmup_s"] = statistics.median(
        [total - session for total, session in zip(setups, sessions)]
    )

    with tracer.span("warm_up"):
        wl.warm_up()
    tracer.counts.clear()  # the layer counts cover the measured phase only
    cpu0 = tracing.cpu_times()
    with tracer.span("measure"):
        out = wl.measure()
    out.named["host.steal_frac"] = tracing.steal_frac(cpu0, tracing.cpu_times())
    wl.layers["host.steal_frac"] = out.named["host.steal_frac"]
    with tracer.span("verify"):
        wl.verify(out)
    wl.teardown()

    if traced:
        wl.layers["session.jvm_peak_rss_mb"] = tracing.jvm_peak_rss_mb(spark)
        wl.layers.update(
            {k: v for k, v in tracer.counts.items() if k.startswith("catalog.")}
        )
        app_id = spark.sparkContext.applicationId
        spark.stop()
        wl.exec_layers(tracing.read_event_log(os.path.join(work, "events"), app_id))
        wl.layers["trace.latency_mean_s"] = statistics.fmean(out.latencies) if out.latencies else 0.0
        wl.layers["trace.spans"] = len(tracer.spans)
        tracer.write(
            os.path.join(WORK_ROOT, "traces", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl")
        )

    e2e = {"setup_s": statistics.median(setups), "ops_per_s": out.ops_per_s}
    named = {
        "setup_s": e2e["setup_s"],
        "latency_mean_s": statistics.fmean(out.latencies) if out.latencies else 0.0,
        **out.named,
        "ops_failed_frac": out.failed / max(1, out.attempted),
    }
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "setup_reps_s": setups,
        "latencies_s": [round(x, 4) for x in out.latencies],
        "attempted": out.attempted,
        "failed": out.failed,
        "problems": out.problems[:10],
    }
    return e2e, named, detail, wl, out


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # everything Spark, py4j and the package write stays inside the checkout
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    try:
        e2e, named, detail, wl, out = run(args, cores, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)

    lag = named.get("gen.max_lag_s")
    if lag is not None and lag > wl.INTERVAL_S:
        print(
            f"invalid run: the generator ran {lag:.3f} s late, more than the "
            f"{wl.INTERVAL_S} s drop interval",
            file=sys.stderr,
        )
        return 3

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    named_units = {"rows_per_s": "1/s", "ops_failed_frac": "fraction", "host.steal_frac": "fraction"}
    print(
        json.dumps(
            {
                **detail,
                "named": {
                    k: {"value": v, "unit": named_units.get(k, "s")} for k, v in named.items()
                },
            }
        )
    )
    if args.trace:
        values = {m["name"]: float(wl.layers.get(m["name"], 0.0)) for m in spec["per_layer"]}
    else:
        values = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}
    print(
        json.dumps(
            {
                "correct": out.failed == 0,
                "attempted": out.attempted,
                "failed": out.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
