"""Cluster entry point: run a crawl via spark-submit (north_rule launch shape).

Package + submit:

    cd /root/repo && zip -qr /tmp/anycrawl_spark.zip anycrawl_spark
    spark-submit \
      --master <cluster-master> \
      --py-files /tmp/anycrawl_spark.zip \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.sql.adaptive.advisoryPartitionSizeInBytes=8m \
      --conf spark.sql.autoBroadcastJoinThreshold=8m \
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \
      --conf spark.python.daemon.module=anycrawl_spark.worker_daemon \
      --conf spark.executorEnv.PYTHONPATH=<dir holding anycrawl_spark on the executors> \
      scripts/submit_crawl.py --workdir /data/crawl1 --jobs 8 --limit 400

The ``spark.sql.adaptive.*`` confs govern queries and everything else the
session plans outside a crawl round. ``CrawlEngine.run_round`` plans each
round without AQE and at ``round_partitions(rows)`` shuffle partitions,
never more than ``spark.sql.shuffle.partitions`` (docs/SCALE.md "Static
round plans").

The two last ``--conf`` lines fork Python workers warm (docs/SCALE.md
"Python workers"). The daemon starts before any task, so it must find the
package on the executors' PYTHONPATH: ``--py-files`` is added per task,
too late for it. Leave both out to keep pyspark's stock daemon.

Optionally, the driver JIT setting ``get_spark`` uses locally (C2
promotion thresholds raised ×5, docs/SCALE.md "JIT tier") can be given
to the driver and the executors:

      --conf "spark.driver.extraJavaOptions=-XX:+UseParallelGC \
        -XX:Tier4InvocationThreshold=25000 -XX:Tier4MinInvocationThreshold=3000 \
        -XX:Tier4CompileThreshold=75000 -XX:Tier4BackEdgeThreshold=200000" \
      --conf "spark.executor.extraJavaOptions=<the same flags>"

It was measured only on a local[4] driver, not on a cluster: long-lived
executors that run the same operators every round may be better served by
HotSpot's defaults.

Local smoke (same file): ``python scripts/submit_crawl.py --local``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workdir", default="/tmp/anycrawl_run")
    ap.add_argument("--jobs", type=int, default=4)
    ap.add_argument("--limit", type=int, default=200)
    ap.add_argument("--hosts", type=int, default=200)
    ap.add_argument("--max-rounds", type=int, default=24)
    ap.add_argument("--resume", action="store_true", help="resume from the workdir's last committed round")
    ap.add_argument("--local", action="store_true", help="build a local[*] session instead of using spark-submit's")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from anycrawl_spark import synth
    from anycrawl_spark.crawl.params import CrawlParams
    from anycrawl_spark.crawl.superstep import CrawlEngine

    if args.local:
        from anycrawl_spark.session import get_spark

        spark = get_spark("submit-crawl", cores=8, shuffle_partitions=8)
    else:
        # under spark-submit the session comes preconfigured from --conf
        spark = SparkSession.builder.appName("anycrawl-crawl").getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")

    web = synth.WebConfig(n_hosts=args.hosts)
    jobs = []
    for j in range(args.jobs):
        host = synth.host_name((j * 11) % args.hosts, web)
        jobs.append(
            {
                "job_id": f"job-{j:04d}",
                "seed_url": f"http://{host}/p/0",
                "engine": "cheerio",
                "strategy": "all" if j % 2 else "same-domain",
                "max_depth": 12,
                "limit": args.limit,
                "include_paths": [],
                "exclude_paths": [],
                "scrape_paths": [],
                "status": "running",
            }
        )
    eng = CrawlEngine(
        spark, args.workdir, jobs, synth.robots_rules(web),
        CrawlParams(max_rounds=args.max_rounds), web=web,
    )
    if args.resume:
        eng.resume()
    else:
        eng.init_state()
    eng.run()
    print(json.dumps({
        "rounds": len(eng.round_stats),
        "pages_fetched": sum(eng.done.values()),
        "urls_enqueued": sum(eng.enqueued.values()),
        "finalized_jobs": len(eng.finalized),
        "last_round": eng.store.last_round,
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
