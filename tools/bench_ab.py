"""Same-host, same-fixture bench A/B across round code states (VERDICT r8
item 3): check out each requested git rev into a detached worktree, run
`python bench.py` there against the CURRENT fixtures, and emit a
per-query diff table.

The r8 driver read a median 1.60× r7→r8 slowdown over the 61 shared
bench-tail queries, while the builder's boundary A/B read 1.09× — this
tool closes the attribution gap by holding host AND fixture content
fixed and varying ONLY the code.

Run on a QUIET machine:  python tools/bench_ab.py r7=106adec r8=d16a075 head=HEAD
Writes BENCH_ab_r09.json {label: {query: sec}} plus a printed summary.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_rev(label: str, rev: str, sf_dir: str) -> dict:
    if rev == "HEAD":
        workdir = REPO
    else:
        workdir = os.path.join(tempfile.gettempdir(), f"bench_ab_{label}")
        if not os.path.exists(workdir):
            subprocess.run(
                ["git", "worktree", "add", "--detach", workdir, rev],
                cwd=REPO,
                check=True,
            )
        else:
            # a stale worktree from a previous invocation may sit on a
            # DIFFERENT rev — re-pin it so the label always matches the
            # benched code (the attribution error this tool exists to
            # close)
            subprocess.run(
                ["git", "checkout", "--detach", rev],
                cwd=workdir,
                check=True,
            )
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = sf_dir
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=workdir,
        env=env,
        capture_output=True,
        text=True,
        timeout=3600,
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if out.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench.py failed for {label} ({rev}): rc={out.returncode}\n"
            f"stdout tail: {out.stdout[-2000:]}\n"
            f"stderr tail: {out.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    specs = [a.split("=", 1) for a in sys.argv[1:]] or [
        ("r7", "106adec"),
        ("r8", "d16a075"),
        ("head", "HEAD"),
    ]
    results = {}
    for label, rev in specs:
        print(f"== {label} ({rev}) ==", flush=True)
        r = run_rev(label, rev, sf_dir)
        results[label] = {
            "total_sec": r.get("value"),
            "queries": r.get("queries", {}),
            "errors": r.get("errors", {}),
        }
        print(f"   total {r.get('value')}s, {len(r.get('queries', {}))} queries",
              flush=True)
    with open(os.path.join(REPO, "BENCH_ab_r09.json"), "w") as fh:
        json.dump(results, fh, indent=1, sort_keys=True)
    labels = [l for l, _ in specs]
    if len(labels) >= 2:
        a, b = labels[0], labels[1]
        qa, qb = results[a]["queries"], results[b]["queries"]
        shared = sorted(set(qa) & set(qb))
        if not shared:
            print(f"\n{b}/{a}: no shared query names — nothing to compare")
            print("wrote BENCH_ab_r09.json")
            return
        ratios = sorted(
            ((qb[q] / qa[q] if qa[q] > 0 else float("inf")), q) for q in shared
        )
        med = ratios[len(ratios) // 2][0]
        print(f"\n{b}/{a}: {len(shared)} shared, median ratio {med:.3f}")
        print("slowest 15 regressions:")
        for r, q in ratios[-15:][::-1]:
            print(f"  {r:6.2f}x  {qa[q]:6.2f} -> {qb[q]:6.2f}  {q}")
    print("wrote BENCH_ab_r09.json")


if __name__ == "__main__":
    main()
