"""Time one round's bloom-shard merge in both shard regimes.

For each bucket count and fresh-key count, the same state (one earlier merge
of as many keys) takes the same fresh keys, cached in Spark as a round's
fresh set is, through:

- driver: the keys collected with ``toArrow()`` as summary rows (the crawl's
  broadcast regime), ``ShardBroadcast.merge`` and the ``bloom_shards``
  append as a driver write;
- spark: the dirty buckets collected with ``distinct()``, then
  ``merge_bloom_shards`` + ``localCheckpoint`` and the ``bloom_shards``
  append as a Spark write (the crawl's regime past the broadcast cap).

Both give the same updated rows; the script checks that, then prints one
line per point with the median wall and process-tree CPU seconds of each.

    python scripts/shard_merge_bench.py [--keys 100000 1000000] \\
        [--buckets 32 4096] [--repeats 3] [--cores 4]
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--keys", type=int, nargs="+", default=[10**5, 10**6, 10**7])
    ap.add_argument("--buckets", type=int, nargs="+", default=[32, 4096])
    ap.add_argument("--repeats", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    args = ap.parse_args()

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from anycrawl_spark.crawl.superstep import _shard_rows
    from anycrawl_spark.operators.seen import (
        SHARD_SCHEMA, ShardBroadcast, merge_bloom_shards,
    )
    from anycrawl_spark.session import get_spark
    from anycrawl_spark.storage import SnapshotStore, files_for
    from tracing import tree_cpu_s

    spark = get_spark("shard_merge_bench", cores=args.cores)
    rng = np.random.default_rng(7)
    tmp = tempfile.mkdtemp(prefix="shard_merge_bench_")

    def measure(nb: int, n: int) -> dict[str, tuple[float, float]]:
        prior = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
        fresh = rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)
        seed = ShardBroadcast(spark)
        seed.merge(prior, nb)
        state_rows = seed.rows()
        seed.close()
        # SHARD_SCHEMA's int bucket: the cogroup pairs keys by hash, and a
        # long bucket hashes elsewhere than the fresh keys' int one
        state = spark.createDataFrame(state_rows, SHARD_SCHEMA).localCheckpoint()
        keyed = (
            spark.createDataFrame(pd.DataFrame({"dedup_hash": fresh}))
            .withColumn("bucket", F.pmod("dedup_hash", F.lit(nb)).cast("int"))
            .persist()
        )
        keyed.count()
        times: dict[str, list] = {"driver": [], "spark": []}
        rows = {}
        for rep in range(args.repeats):
            store = SnapshotStore(os.path.join(tmp, f"{nb}_{n}_{rep}"), spark)

            def driver() -> list:
                bc = ShardBroadcast(spark)
                bc.apply_delta(state_rows)
                t, c = time.perf_counter(), tree_cpu_s()
                keys = keyed.select(
                    F.lit(None).cast("string").alias("job_id"),
                    F.lit("key").alias("k"), F.col("dedup_hash").alias("c"),
                ).toArrow()["c"].to_numpy()
                updated = bc.merge(keys, nb)
                store.append("bloom_shards", _shard_rows(updated, 0), round_no=0)
                times["driver"].append((time.perf_counter() - t, tree_cpu_s() - c))
                bc.close()
                return sorted(updated)

            def spark_merge() -> list:
                t, c = time.perf_counter(), tree_cpu_s()
                dirty = [r[0] for r in keyed.select("bucket").distinct().collect()]
                merged = merge_bloom_shards(
                    state, keyed, dirty_buckets=dirty
                ).localCheckpoint(eager=True)
                upd = merged.filter("updated").select(
                    "bucket", "gen", "n_keys", "bloom", F.lit(1).alias("round")
                )
                store.append(
                    "bloom_shards", upd.coalesce(files_for(len(dirty))), round_no=1
                )
                times["spark"].append((time.perf_counter() - t, tree_cpu_s() - c))
                out = sorted(
                    (r.bucket, r.gen, r.n_keys, bytes(r.bloom)) for r in upd.collect()
                )
                merged.unpersist()
                return out

            # alternate which regime runs first
            for fn in (driver, spark_merge) if rep % 2 == 0 else (spark_merge, driver):
                rows[fn.__name__] = fn()
            shutil.rmtree(store.base, ignore_errors=True)
        assert rows["driver"] == rows["spark_merge"], (nb, n)
        keyed.unpersist()
        return {
            k: (statistics.median(w for w, _ in v), statistics.median(c for _, c in v))
            for k, v in times.items()
        }

    print(f"# cores={args.cores} repeats={args.repeats} (median wall / tree CPU s)")
    try:
        # an untimed first point pays the JVM's and the workers' first-use costs
        measure(32, 1000)
        for nb in args.buckets:
            for n in args.keys:
                med = measure(nb, n)
                print(
                    f"buckets={nb} keys={n} "
                    f"driver wall={med['driver'][0]:.2f} cpu={med['driver'][1]:.2f} "
                    f"spark wall={med['spark'][0]:.2f} cpu={med['spark'][1]:.2f}",
                    flush=True,
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
