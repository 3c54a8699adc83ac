"""Record a baseline: two independent sets of benchmark runs on this host.

    python3 perfbench/baseline.py

Each set runs every workload of ``BENCHMARK.json`` ``RUNS`` times, each
with its own seed, plus one traced run per workload, one fresh process per
run (``perfbench/run.py``). Raw result lines go to
``perfbench/baseline.json.runs.jsonl`` as they finish. The summary in
``perfbench/baseline.json`` holds, per set, workload and end-to-end metric,
the median, the quartiles and the spread ((q3 - q1) / median, as
``statistics.quantiles(n=4)`` gives them), the second set's median change
against the first, and the tracing overhead (traced minus untraced median
``latency_mean_s``).
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "baseline.json")
SETS = 2
RUNS = 10
SEED_BASE = 1000


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [
            sys.executable,
            os.path.join("perfbench", "run.py"),
            "--workload", workload,
            "--seed", str(seed),
            "--seconds", str(seconds),
            "--trace", str(trace),
        ],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return {
        "workload": workload,
        "seed": seed,
        "trace": trace,
        "rc": proc.returncode,
        "wall_s": time.perf_counter() - t0,
        "detail": json.loads(lines[-2]) if len(lines) >= 2 else None,
        "result": json.loads(lines[-1]) if lines else None,
    }


def quartiles(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {
        "median": med,
        "q1": q1,
        "q3": q3,
        "spread": (q3 - q1) / med if med else None,
        "n": len(values),
    }


def summarize(spec: dict, runs: list[dict]) -> dict:
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    sets: dict = {}
    for r in runs:
        sets.setdefault(str(r["set"]), []).append(r)
    out = {"sets": {}, "set_change": {}, "tracing_overhead_s": {}}
    for name, rs in sorted(sets.items()):
        per_wl = {}
        for w in spec["workloads"]:
            ok = [
                r for r in rs
                if r["workload"] == w["name"] and not r["trace"] and r["rc"] == 0
                and r["result"]["correct"]
            ]
            if len(ok) < 2:
                continue
            per_wl[w["name"]] = {
                "runs": len(ok),
                "run_wall_s": quartiles([r["wall_s"] for r in ok]),
                "metrics": {
                    m: quartiles([r["result"]["metrics"][m]["value"] for r in ok])
                    for m in bounds
                },
                "named": {
                    k: quartiles([r["detail"]["named"][k]["value"] for r in ok])
                    for k in ok[0]["detail"]["named"]
                },
            }
            traced = [
                r["result"]["metrics"]["trace.latency_mean_s"]["value"]
                for r in rs
                if r["workload"] == w["name"] and r["trace"] and r["rc"] == 0
            ]
            if traced:
                out["tracing_overhead_s"].setdefault(name, {})[w["name"]] = (
                    statistics.median(traced) - per_wl[w["name"]]["named"]["latency_mean_s"]["median"]
                )
        out["sets"][name] = per_wl
    names = sorted(out["sets"])
    for later in names[1:]:
        for wl, data in out["sets"][later].items():
            first = out["sets"][names[0]].get(wl)
            if not first:
                continue
            out["set_change"].setdefault(later, {})[wl] = {
                m: {
                    "change": data["metrics"][m]["median"] / first["metrics"][m]["median"] - 1.0,
                    "bound": bounds[m],
                }
                for m in bounds
            }
    return out


def cpu_model() -> str:
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                return line.split(":", 1)[1].strip()
    return platform.processor()


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    runs = []
    with open(OUT + ".runs.jsonl", "w") as raw:
        for s in range(SETS):
            for w in spec["workloads"]:
                for i in range(RUNS + 1):
                    trace = int(i == RUNS)
                    seed = SEED_BASE + 100 * s + i
                    r = one_run(w["name"], seed, spec["run_seconds"], trace)
                    r["set"] = s
                    runs.append(r)
                    raw.write(json.dumps(r) + "\n")
                    raw.flush()
                    print(w["name"], seed, trace, r["rc"], round(r["wall_s"], 1), flush=True)
    summary = {
        "host": {
            "cores": len(os.sched_getaffinity(0)),
            "cpu": cpu_model(),
            "machine": platform.machine(),
            "python": platform.python_version(),
        },
        "run_seconds": spec["run_seconds"],
        **summarize(spec, runs),
    }
    with open(OUT, "w") as fh:
        json.dump(summary, fh, indent=2)
        fh.write("\n")
    print(json.dumps(summary["set_change"], indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
