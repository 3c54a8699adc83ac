"""In-memory spans and the per-layer probes of the traced run.

Spans are recorded by the benchmark around its calls into the program's
public functions; nothing inside the package is edited. With tracing off
every probe is a no-op, so the end-to-end run pays nothing for it.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager


class Tracer:
    """Spans (name, start, end, parent, run id) and counters, kept in memory
    until :meth:`write` at the end of the run."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self._ids = itertools.count(1)
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        span = {
            "id": next(self._ids),
            "parent": stack[-1] if stack else None,
            "name": name,
            "run": self.run_id,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(span["id"])
        try:
            yield
        finally:
            stack.pop()
            span["end"] = time.perf_counter()
            self.spans.append(span)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                fh.write(json.dumps(s) + "\n")


def count_py4j_calls(spark, tracer: Tracer) -> None:
    """Count driver-to-JVM py4j commands in ``tracer.counts["py4j_calls"]``
    by wrapping the gateway client's ``send_command``. The gateway
    outlives SparkContext restarts, so it is wrapped once."""
    client = spark.sparkContext._gateway._gateway_client
    if getattr(client, "_perfbench_counted", False):
        return
    send = client.send_command

    def counted(*args, **kwargs):
        tracer.counts["py4j_calls"] += 1
        return send(*args, **kwargs)

    client.send_command = counted
    client._perfbench_counted = True


def patch_load_table(tracer: Tracer) -> None:
    """Time every ``load_table`` call. The registry imports the function by
    name, so both module attributes are replaced."""
    from streamlit_projet_spark_streaming_spark import registry
    from streamlit_projet_spark_streaming_spark.sources import catalog

    original = catalog.load_table

    def traced(*args, **kwargs):
        tracer.counts["catalog.load_table_calls"] += 1
        t0 = time.perf_counter()
        with tracer.span("catalog.load_table"):
            out = original(*args, **kwargs)
        tracer.counts["catalog.load_table_s"] += time.perf_counter() - t0
        return out

    catalog.load_table = traced
    registry.load_table = traced


def group_jobs(spark, group: str) -> int:
    """Jobs the status tracker attributes to a job group."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def catalyst_ms(df) -> dict[str, float]:
    """Analysis / optimization / planning ms from the DataFrame's
    ``QueryPlanningTracker`` (read after the action ran)."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def cpu_times() -> list[int]:
    """The machine's aggregate CPU time counters (``cpu`` line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of the CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests (the 8th counter, ``steal``)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, read from procfs."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def read_event_log(log_dir: str, app_id: str) -> list[dict]:
    """Jobs of one application from its uncompressed, non-rolling event
    log: ``[{id, group, submit_ms, stages (that ran), tasks, failed_tasks,
    shuffle_write_bytes, shuffle_read_bytes, spill_bytes,
    executor_run_ms}]``. Read after the application stopped."""
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):
        path += ".inprogress"
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job = {
                    "id": ev["Job ID"],
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "submit_ms": ev.get("Submission Time", 0),
                    "stages": set(),
                    "tasks": 0,
                    "failed_tasks": 0,
                    "shuffle_write_bytes": 0,
                    "shuffle_read_bytes": 0,
                    "spill_bytes": 0,
                    "executor_run_ms": 0,
                }
                jobs[job["id"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job["id"]
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                job["tasks"] += 1
                job["stages"].add(ev["Stage ID"])
                if (ev.get("Task Info") or {}).get("Failed"):
                    job["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                job["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
                job["executor_run_ms"] += m.get("Executor Run Time", 0)
    # a stage that ran no task was skipped (its shuffle output was reused)
    return [{**j, "stages": len(j["stages"])} for j in jobs.values()]


def exec_metrics(jobs: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    """``exec.*`` totals over ``jobs``, which ran within ``wall_s``."""
    keys = (
        "stages",
        "tasks",
        "failed_tasks",
        "shuffle_write_bytes",
        "shuffle_read_bytes",
        "spill_bytes",
        "executor_run_ms",
    )
    out = {f"exec.{k}": sum(j[k] for j in jobs) for k in keys}
    out["exec.jobs"] = len(jobs)
    out["exec.collect_s"] = wall_s
    out["exec.core_busy_frac"] = (
        sum(j["executor_run_ms"] for j in jobs) / (wall_s * 1000.0 * cores) if wall_s else 0.0
    )
    return out
