"""Crawl-superstep benchmark for anycrawl_spark (see perfbench/README.md).

    python3 perfbench/run.py --workload crawl_multi_job --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout: it starts a local Spark session
sized to this machine, drives the engine's public entry points, checks the
outputs, and prints one JSON line as the last line of stdout:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A
human-readable report goes to stderr. Everything it writes stays under
``.bench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "3g"


def _configure_env(work: str) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # every JVM Spark starts (the launcher and the driver) keeps its scratch
    # files in the work dir and writes no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # python workers import the engine (and the benchmark's helpers) from
    # this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    sys.path[:0] = [ROOT, HERE]


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM it launched and every process
    under it, waiting until each has exited."""
    from pyspark import SparkContext
    from tracing import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    tree = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gw.shutdown()
    proc.stdin.close()
    proc.terminate()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 60
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in tree):
        for p in tree:
            try:
                os.kill(p, 9)
            except OSError:
                pass
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("crawl_multi_job", "superstep_kernels"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "anycrawl_spark", "__init__.py")):
        print(f"perfbench: no anycrawl_spark package under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    _configure_env(work)
    try:
        import harness

        result = harness.run(args.workload, args.seed, args.seconds, bool(args.trace),
                             work, _stop_spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
