#!/usr/bin/env python3
"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of ``BENCHMARK.json`` once untraced and once traced
for the shortest run (``--seconds 1``, one round) and checks that:

* the last stdout line is the result object, every output check passed
  and no op failed;
* the untraced run prints every end-to-end metric, the traced run every
  per-layer metric, each with the unit ``BENCHMARK.json`` declares;
* the traced run's span file holds spans of every program layer the
  workload calls into;
* the run left no process behind (the smoke test makes itself the
  subreaper of the runs it starts, so any process of a run that
  outlives it becomes the smoke test's child).

Exits 0 when all hold, 1 otherwise.  Takes a few minutes: each run
starts Spark and builds the graph layout.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import procs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# program layers each workload must leave spans in
LAYERS = {
    "serve_read": {"http_api", "client", "adtql", "cypher", "graph_analytics", "crud", "loader"},
    "write_commit_stream": {
        "http_api", "client", "adtql", "cypher", "crud", "commit_log",
        "streaming", "replica", "loader",
    },
}


def leftovers() -> list[int]:
    """Children this process still has (a run's orphans), reaped or
    killed so the next run starts clean."""
    left = procs.live_descendants()
    for pid in left:
        os.kill(pid, 9)
    while True:
        try:
            pid, _ = os.waitpid(-1, 0)
        except ChildProcessError:
            return left
        if pid not in left:
            left.append(pid)


def run(workload: str, trace: int) -> tuple[dict, list[str]]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace),
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    problems = []
    left = leftovers()
    if left:
        problems.append(f"processes left behind: {left}")
    if proc.returncode != 0:
        problems.append(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
        return {}, problems
    return json.loads(proc.stdout.strip().splitlines()[-1]), problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    procs.adopt_orphans()
    failures = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace, declared in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            result, problems = run(wl, trace)
            tag = f"{wl} trace={trace}"
            failures += [f"{tag}: {p}" for p in problems]
            if problems:
                continue
            if not result["correct"] or result["failed"]:
                failures.append(f"{tag}: correct={result['correct']} failed={result['failed']}")
            metrics = result["metrics"]
            for m in declared:
                got = metrics.get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    failures.append(f"{tag}: metric {m['name']} missing or unit {got}")
            extra = set(metrics) - {m["name"] for m in declared}
            if extra:
                failures.append(f"{tag}: undeclared metrics {sorted(extra)}")
            if trace:
                files = sorted(glob.glob(os.path.join(
                    ROOT, ".perfbench_work", "artifacts", f"{wl}-seed7-trace1-*.spans.jsonl"
                )))
                seen = set()
                if files:
                    with open(files[-1]) as f:
                        seen = {json.loads(line)["name"].split(".", 1)[0] for line in f}
                missing = LAYERS[wl] - seen
                if missing:
                    failures.append(f"{tag}: no spans for layers {sorted(missing)}")
            print(f"{tag}: {'ok' if not any(x.startswith(tag) for x in failures) else 'FAILED'}")
    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
