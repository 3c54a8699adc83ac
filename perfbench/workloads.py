"""The workloads. Each one is a single client driving the program through
its public functions:

- ``analyst_heavy``: closed loop over heavy registry entries (build + collect);
- ``stream_freshness``: open loop of order-file drops through the streaming
  Consumer, with a probe reading gold outside Spark; afterwards the
  dashboard reruns over what the stream produced.

A workload generates its inputs (``prepare``, untimed), sets itself up on a
fresh session (``setup``, timed as ``setup_s``), warms up (``warm_up``,
untimed), measures (``measure``) and then checks every output (``verify``,
untimed).
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from collections import Counter
from dataclasses import dataclass, field
from datetime import timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from streamlit_projet_spark_streaming_spark.functions.enrichment import enrich
from streamlit_projet_spark_streaming_spark.plans import shopping_views as SV
from streamlit_projet_spark_streaming_spark.registry import REGISTRY
from streamlit_projet_spark_streaming_spark.serving import dashboard as D
from streamlit_projet_spark_streaming_spark.serving.app import GOLD_VIEWS
from streamlit_projet_spark_streaming_spark.sources.shopping import RAW_ORDER_SCHEMA
from streamlit_projet_spark_streaming_spark.streaming import consumer
from tests.oracle_harness import canonical_rows, compare, duckdb_conn

from . import datagen
from .tracing import catalyst_ms, exec_metrics, group_jobs


def pct(values: list[float], q: float) -> float:
    return float(np.percentile(values, q)) if values else 0.0


@dataclass
class Outcome:
    """What ``measure`` hands back: per-op latencies (s), the work rate,
    op counts and the workload's own named metrics."""

    latencies: list[float] = field(default_factory=list)
    ops_per_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    named: dict = field(default_factory=dict)
    problems: list[str] = field(default_factory=list)


class _Pandas:
    """Hands an already-collected frame to ``oracle_harness.compare``."""

    def __init__(self, pdf):
        self._pdf = pdf

    def toPandas(self):
        return self._pdf


class Workload:
    name = ""

    def __init__(self, seed: int, seconds: float, work: str, tracer, cores: int):
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.tracer = tracer
        self.cores = cores
        self.spark = None
        self.layers: dict[str, float] = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def teardown(self) -> None:
        pass

    def warm_up(self) -> None:
        pass

    def measure(self) -> Outcome:
        raise NotImplementedError

    def verify(self, out: Outcome) -> None:
        raise NotImplementedError

    def exec_layers(self, jobs: list[dict]) -> None:
        """Fill ``exec.*`` from the event log's jobs (traced run)."""
        raise NotImplementedError

    def _group(self, group: str) -> None:
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, group)


# --------------------------------------------------------------------------
# analyst_heavy
# --------------------------------------------------------------------------


class AnalystHeavy(Workload):
    name = "analyst_heavy"
    WARMUP = "v_price_bucket_preferences"
    ENTRIES = (
        "dedup_method_agreement",
        "embedding_knn_graph",
        "graph_local_clustering",
        "ivf_maintenance_report",
        "text_perceptron_trainer",
    )

    def prepare(self) -> None:
        self.data = datagen.write_analyst_tables(os.path.join(self.work, "data"), self.seed)

    def setup(self, spark, rep: int) -> None:
        # a fixed trivial query: the new context runs its first job
        self.spark = spark
        spark.range(1).count()

    def warm_up(self) -> None:
        REGISTRY[self.WARMUP].builder(self.spark, self.data).toPandas()

    def measure(self) -> Outcome:
        """One closed-loop pass over ``ENTRIES``."""
        out = Outcome()
        tr = self.tracer
        self.results: list[tuple[str, object]] = []
        layer = Counter()
        for entry in self.ENTRIES:
            out.attempted += 1
            try:
                self._group(f"build:{entry}")
                calls0 = tr.counts["py4j_calls"]
                t0 = time.perf_counter()
                with tr.span("registry.build", entry=entry):
                    df = REGISTRY[entry].builder(self.spark, self.data)
                t1 = time.perf_counter()
                calls1 = tr.counts["py4j_calls"]
                self._group(f"collect:{entry}")
                with tr.span("exec.collect", entry=entry):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            except Exception as exc:  # noqa: BLE001 - a failed op is counted
                out.failed += 1
                out.problems.append(f"{entry}: {type(exc).__name__}: {exc}"[:300])
                continue
            out.latencies.append(t2 - t0)
            self.results.append((entry, pdf))
            if tr.enabled:
                layer["registry.build_s"] += t1 - t0
                layer["exec.collect_s"] += t2 - t1
                layer["registry.build_jobs"] += group_jobs(self.spark, f"build:{entry}")
                layer["registry.build_py4j_calls"] += calls1 - calls0
                for phase, ms in catalyst_ms(df).items():
                    layer[f"catalyst.{phase}_ms"] += ms
        if tr.enabled:
            self.spark.sparkContext.setJobGroup("", "")
        self.layers.update(layer)
        sweep_s = sum(out.latencies)
        out.ops_per_s = len(out.latencies) / sweep_s if sweep_s else 0.0
        out.named["sweep_s"] = sweep_s
        return out

    def verify(self, out: Outcome) -> None:
        con = duckdb_conn(self.data)
        for entry, pdf in self.results:
            problems = compare(_Pandas(pdf), con, REGISTRY[entry].oracle, entry)
            if problems:
                out.failed += 1
                out.problems.extend(problems)
        con.close()

    def exec_layers(self, jobs: list[dict]) -> None:
        mine = [j for j in jobs if (j["group"] or "").startswith("collect:")]
        self.layers.update(exec_metrics(mine, self.layers.get("exec.collect_s", 0.0), self.cores))


# --------------------------------------------------------------------------
# the dashboard rerun (measured on stream_freshness)
# --------------------------------------------------------------------------


def dashboard_rerun(spark, silver_dir: str, gold_dir: str, tracer, layer: Counter | None) -> dict:
    """One dashboard rerun, ``serving/app.py::main`` without Streamlit:
    re-open silver, ``toPandas()`` every snapshot chart, then load and
    ``toPandas()`` the gold views. ``layer`` collects per-chart times."""
    t0 = time.perf_counter()
    with tracer.span("dashboard.open_silver"):
        silver = spark.read.schema(consumer.enrich_schema(spark)).parquet(silver_dir)
    with tracer.span("dashboard.snapshot"):
        frames = D.dashboard_snapshot(silver)
    t1 = time.perf_counter()
    charts = {}
    for name, df in frames.items():
        t = time.perf_counter()
        with tracer.span("dashboard.chart", chart=name):
            charts[name] = df.toPandas()
        if layer is not None:
            layer[f"dashboard.{name}_s"] += time.perf_counter() - t
            for phase, ms in catalyst_ms(df).items():
                layer[f"catalyst.{phase}_ms"] += ms
    t2 = time.perf_counter()
    with tracer.span("dashboard.load_gold_snapshot"):
        gold = D.load_gold_snapshot(spark, gold_dir, GOLD_VIEWS)
    t3 = time.perf_counter()
    with tracer.span("dashboard.gold_topandas"):
        gold_pd = {k: v.toPandas() for k, v in gold.items()}
    t4 = time.perf_counter()
    if layer is not None:
        layer["dashboard.snapshot_build_s"] += t1 - t0
        layer["dashboard.load_gold_snapshot_s"] += t3 - t2
        layer["dashboard.gold_topandas_s"] += t4 - t3
        for df in gold.values():
            for phase, ms in catalyst_ms(df).items():
                layer[f"catalyst.{phase}_ms"] += ms
    return {**charts, **{f"gold.{k}": v for k, v in gold_pd.items()}}


# --------------------------------------------------------------------------
# stream_freshness
# --------------------------------------------------------------------------


class _ProgressLog:
    """Python ``StreamingQueryListener`` body: keeps every progress event."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                log.on_progress(event.progress)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()
        self.lock = threading.Lock()
        self.events: dict[str, list] = {}
        self.hook = None

    def on_progress(self, progress) -> None:
        with self.lock:
            self.events.setdefault(str(progress.id), []).append(
                (
                    time.perf_counter(),
                    int(progress.numInputRows),
                    dict(progress.durationMs or {}),
                )
            )
        if self.hook is not None:
            self.hook(str(progress.id))

    def of(self, query) -> list:
        with self.lock:
            return list(self.events.get(str(query.id), []))


class StreamFreshness(Workload):
    name = "stream_freshness"
    INTERVAL_S = 1.0  # one file dropped every INTERVAL_S (open loop)
    WARM_FILES = 16  # the loop's first files, dropped at the same rate, are not timed
    LINES = 400  # lines per file
    BAD = 8  # malformed lines per file
    TRIGGER = "250 milliseconds"  # processingTime of ingest and gold
    PROBE_S = 0.05  # probe read interval
    DRAIN_S = 60.0  # longest wait for the last file after the final drop

    def prepare(self) -> None:
        # one untimed cold-start file, WARM_FILES untimed files of the open
        # loop, then one timed file per interval
        self.n_files = 1 + self.WARM_FILES + max(4, int(self.seconds / self.INTERVAL_S))
        self.files = datagen.order_files(self.n_files, self.LINES, self.BAD, self.seed)
        self.valid = os.path.join(self.work, "valid_rows.parquet")
        pq.write_table(
            datagen.valid_stream_rows(self.n_files, self.LINES, self.BAD, self.seed), self.valid
        )

    def setup(self, spark, rep: int) -> None:
        self.spark = spark
        base = os.path.join(self.work, f"rep{rep}")
        self.dirs = {
            k: os.path.join(base, k)
            for k in ("input", "stage", "silver", "gold", "ckpt_ingest", "ckpt_gold")
        }
        os.makedirs(self.dirs["input"])
        os.makedirs(self.dirs["stage"])
        self.progress = _ProgressLog()
        spark.streams.addListener(self.progress.listener)
        self.ingest = consumer.start_ingest(
            spark,
            self.dirs["input"],
            self.dirs["silver"],
            self.dirs["ckpt_ingest"],
            processing_time=self.TRIGGER,
        )
        self.gold = consumer.start_gold_refresh(
            spark,
            self.dirs["silver"],
            self.dirs["gold"],
            self.dirs["ckpt_gold"],
            processing_time=self.TRIGGER,
        )

    def teardown(self) -> None:
        for q in (getattr(self, "ingest", None), getattr(self, "gold", None)):
            if q is not None and q.isActive:
                q.stop()
        if self.spark is not None:
            self.spark.streams.removeListener(self.progress.listener)

    def _probe(self, expected: list[int], seen: dict, stats: Counter, stop: threading.Event):
        path = os.path.join(self.dirs["gold"], "hourly_series")
        t0 = datagen.STREAM_T0
        best = 0  # most hours seen in one read; 0 until gold first appears
        while not stop.is_set():
            try:
                table = pq.read_table(path, columns=["hour", "n_orders"])
            except (OSError, pa.ArrowException):  # missing or torn mid-overwrite
                if best:
                    stats["reads"] += 1
                    stats["unreadable"] += 1
                stop.wait(self.PROBE_S)
                continue
            now = time.perf_counter()
            stats["reads"] += 1
            if table.num_rows < best:
                stats["unreadable"] += 1  # partial: fewer hours than already seen
            best = max(best, table.num_rows)
            for hour, n in zip(table.column("hour").to_pylist(), table.column("n_orders").to_pylist()):
                k = int((hour.replace(tzinfo=None) - t0) / timedelta(hours=1))
                if not 0 <= k < len(expected):
                    stats["unknown_hour"] += 1
                elif n > expected[k]:
                    stats["duplicated"] += 1
                elif n == expected[k] and k not in seen:
                    seen[k] = now
            stop.wait(self.PROBE_S)

    def measure(self) -> Outcome:
        out = Outcome()
        tr = self.tracer
        files = self.files
        expected = [good for _, good in files]
        seen: dict[int, float] = {}
        stats: Counter = Counter()
        stop = threading.Event()
        probe = threading.Thread(target=self._probe, args=(expected, seen, stats, stop))
        probe.start()

        ingested = [0]
        backlog = []
        dropped = [0]
        ingest_id = str(self.ingest.id)

        def on_progress(qid: str) -> None:
            if qid == ingest_id:
                ingested[0] = sum(e[1] for e in self.progress.of(self.ingest))
                backlog.append(dropped[0] - ingested[0] // self.LINES)

        def drop(k: int) -> None:
            with tr.span("gen.drop", file=k):
                staged = os.path.join(self.dirs["stage"], f"orders-{k:05d}.json")
                with open(staged, "wb") as fh:
                    fh.write(files[k][0])
                os.rename(staged, os.path.join(self.dirs["input"], f"orders-{k:05d}.json"))
            dropped[0] += 1

        def wait_visible(n: int) -> None:
            deadline = time.perf_counter() + self.DRAIN_S
            while len(seen) < n and time.perf_counter() < deadline:
                if not (self.ingest.isActive and self.gold.isActive):
                    break
                time.sleep(self.PROBE_S)

        self.progress.hook = on_progress
        due: dict[int, float] = {}
        lags: list[float] = []
        try:
            # file 0 takes the cold start of the ingest and gold paths; the
            # open loop then runs WARM_FILES files before the timed window,
            # so the window starts with both queries in their steady state
            drop(0)
            wait_visible(1)
            start = time.perf_counter() + 0.1
            t0 = start + self.WARM_FILES * self.INTERVAL_S
            self.measure_epoch_ms = (time.time() + t0 - time.perf_counter()) * 1000.0
            for k in range(1, len(files)):
                when = start + (k - 1) * self.INTERVAL_S
                delay = when - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                lags.append(time.perf_counter() - when)
                if k > self.WARM_FILES:
                    due[k] = when
                drop(k)
            backlog_end = dropped[0] - ingested[0] // self.LINES
            wait_visible(len(files))
        finally:
            stop.set()
            probe.join()
            self.progress.hook = None
        self.measure_end_ms = time.time() * 1000.0
        self.window_s = time.perf_counter() - t0

        out.attempted = len(files)
        for k in range(len(files)):
            if k not in seen:
                out.failed += 1
                out.problems.append(f"file {k} never visible in gold")
            elif k in due:
                out.latencies.append(seen[k] - due[k])
        if stats["duplicated"] or stats["unknown_hour"]:
            out.failed += 1
            out.problems.append(f"gold rows duplicated or unknown: {dict(stats)}")
        visible_rows = sum(expected[k] for k in due if k in seen)
        span = max((seen[k] for k in due if k in seen), default=t0) - t0
        out.ops_per_s = visible_rows / span if span else 0.0
        self.layers["gen.max_lag_s"] = max(lags)
        out.named.update(
            {
                "freshness_p50_s": pct(out.latencies, 50),
                "freshness_p90_s": pct(out.latencies, 90),
                "rows_per_s": out.ops_per_s,
                "gen.max_lag_s": max(lags),
            }
        )
        self._stream_layers(stats, backlog, backlog_end, t0)
        return out

    def _stream_layers(self, stats: Counter, backlog: list[int], backlog_end: int, t0: float) -> None:
        # Batches of the open-loop window, not of the warm-up file. A batch
        # that ran has an addBatch phase; the gold query's own source rows
        # stay 0 because its foreachBatch re-reads silver.
        def batches(query):
            return [e for e in self.progress.of(query) if "addBatch" in e[2] and e[0] >= t0]

        data = batches(self.ingest)
        gold = batches(self.gold)

        def med(events, key):
            return pct([e[2].get(key, 0) for e in events], 50)

        self.layers.update(
            {
                "ingest.trigger_ms": med(data, "triggerExecution"),
                "ingest.add_batch_ms": med(data, "addBatch"),
                "ingest.query_planning_ms": med(data, "queryPlanning"),
                "ingest.get_batch_ms": med(data, "getBatch"),
                "ingest.latest_offset_ms": med(data, "latestOffset"),
                "ingest.wal_commit_ms": med(data, "walCommit"),
                "ingest.rows_per_batch": pct([e[1] for e in data], 50),
                "ingest.backlog_files_max": max(backlog, default=0),
                "ingest.backlog_files_end": backlog_end,
                "gold.trigger_ms": med(gold, "triggerExecution"),
                "gold.add_batch_ms_p50": med(gold, "addBatch"),
                "gold.add_batch_ms_p90": pct([e[2].get("addBatch", 0) for e in gold], 90),
                "gold.batches": len(gold),
                "gold.unreadable_probe_frac": stats["unreadable"] / max(1, stats["reads"]),
            }
        )
        adds = [e[2].get("addBatch", 0) for e in gold]
        q = len(adds) // 4
        if q:
            self.layers["gold.add_batch_growth"] = statistics.median(adds[-q:]) / max(
                1e-9, statistics.median(adds[:q])
            )

    def verify(self, out: Outcome) -> None:
        """Final gold equals batch views over the valid rows, and the ingest
        rejected exactly the injected malformed lines."""
        self.teardown()
        spark = self.spark
        silver = spark.read.schema(consumer.enrich_schema(spark)).parquet(self.dirs["silver"])
        n_silver = silver.count()
        read = sum(e[1] for e in self.progress.of(self.ingest))
        self.layers["ingest.rows_rejected"] = read - n_silver
        out.attempted += 1
        if read - n_silver != self.n_files * self.BAD:
            out.failed += 1
            out.problems.append(
                f"rejected {read - n_silver} rows, injected {self.n_files * self.BAD}"
            )
        if self.tracer.enabled:
            self._dashboard(out)
        batch = enrich(spark.read.schema(RAW_ORDER_SCHEMA).parquet(self.valid))
        views = {
            "v_age_preferences": SV.v_age_preferences(batch),
            "v_gender_preferences": SV.v_gender_preferences(batch),
            "v_location_preferences": SV.v_location_preferences(batch),
            "v_age_gender_category": SV.v_age_gender_category(batch),
            "hourly_series": consumer.hourly_series_batch(batch),
        }
        for name, df in views.items():
            out.attempted += 1
            got = spark.read.parquet(os.path.join(self.dirs["gold"], name)).toPandas()
            if canonical_rows(got) != canonical_rows(df.toPandas()):
                out.failed += 1
                out.problems.append(f"final gold {name} differs from batch views over valid rows")

    def _dashboard(self, out: Outcome) -> None:
        """Traced run only: the dashboard reruns over what the stream
        produced, once to warm up and once measured; both must render the
        same rows."""
        args = (self.spark, self.dirs["silver"], self.dirs["gold"], self.tracer)
        first = dashboard_rerun(*args, None)
        layer = Counter()
        self._group("poll")
        t0 = time.perf_counter()
        second = dashboard_rerun(*args, layer)
        out.named["poll_s"] = time.perf_counter() - t0
        layer["dashboard.jobs_per_poll"] = group_jobs(self.spark, "poll")
        self.spark.sparkContext.setJobGroup("", "")
        self.layers.update(layer)
        out.attempted += 1
        bad = [k for k, v in second.items() if canonical_rows(v) != canonical_rows(first[k])]
        if bad:
            out.failed += 1
            out.problems.append(f"dashboard reruns disagree on {bad}")

    def exec_layers(self, jobs: list[dict]) -> None:
        # the open-loop window only: not the warm-up file, not ``verify``
        mine = [j for j in jobs if self.measure_epoch_ms <= j["submit_ms"] < self.measure_end_ms]
        self.layers.update(exec_metrics(mine, self.window_s, self.cores))


WORKLOADS = {w.name: w for w in (AnalystHeavy, StreamFreshness)}
