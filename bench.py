"""Benchmark entry point: run every BENCHMARK.json workload once through
perfbench and print one JSON line.

    python bench.py

Each workload runs as ``<command> --workload W --seed 1 --seconds
<run_seconds> --trace 0`` from the repo root (about 1.5 min each). The last
stdout line is

    {"metric": "round_cpu_p50_s", "value": <crawl_multi_job value>,
     "unit": "cpu_s", "correct": ..., "failed": ..., "workloads": {W: {...}}}

The exit code is non-zero when a run fails or reports failed checks.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.abspath(__file__))
HEADLINE = ("crawl_multi_job", "round_cpu_p50_s", "cpu_s")  # workload, metric, unit


def run_workload(command: list[str], workload: str, seconds: float) -> dict | None:
    """One perfbench run; its last stdout line parsed, or None if it failed."""
    proc = subprocess.run(
        [*command, "--workload", workload, "--seed", "1", "--seconds", str(seconds),
         "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = {w["name"]: run_workload(spec["command"], w["name"], spec["run_seconds"])
               for w in spec["workloads"]}
    ok = [r for r in results.values() if r is not None]
    complete = len(ok) == len(results)
    failed = sum(r["failed"] for r in ok)
    workload, metric, unit = HEADLINE
    headline = results.get(workload) or {"metrics": {}}
    print(json.dumps({
        "metric": metric,
        "value": headline["metrics"].get(metric, {}).get("value"),
        "unit": unit,
        "correct": complete and all(r["correct"] for r in ok),
        "failed": failed,
        "workloads": {name: r and {k: m["value"] for k, m in r["metrics"].items()}
                      for name, r in results.items()},
    }), flush=True)
    return 0 if complete and failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
