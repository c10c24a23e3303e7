"""SparkSession factory with the AQE/shuffle settings the engine assumes.

Scale rationale (100 TB / 1000-executor target):
- AQE on for the session: queries (``queries.py``), operators called on
  their own and every caller outside a crawl round get runtime coalescing
  and skew-join splitting over inputs whose sizes the driver does not know.
- A crawl round is the exception. ``CrawlEngine.run_round`` turns AQE off
  for its own duration and sets the shuffle partitions from its row bound
  (``crawl.superstep.static_plan``): the driver knows how many rows a round
  can move, and AQE would split a 30-row round into one Spark job per
  shuffle stage (docs/SCALE.md "Static round plans").
- shuffle.partitions defaults to the local core count here; on a real
  cluster it is set to ~2-3x total cores via spark-submit conf. AQE
  coalesces a query's shuffles down from it; a round uses
  ``round_partitions(rows)``, never more than it.
- Arrow enabled: every UDF in this engine is a pandas UDF / mapInPandas —
  Arrow batch transfer is the difference between viable and 100x-too-slow.
- Codegen cache sized to the crawl: one round compiles ~130 classes (~86
  distinct), more than Spark's 100-entry default, so the LRU evicted every
  class between rounds and each round recompiled (and re-JITted) the same
  code. CODEGEN_CACHE_ENTRIES keeps a round's classes across rounds.
- Python workers fork from ``anycrawl_spark.worker_daemon`` (engine modules
  preloaded, no per-task re-parse of pyspark.zip). The executors' PYTHONPATH
  gets the directory holding this package, so the daemon runs the code the
  driver imports. spark-submit sessions keep the stock daemon unless given
  the same two settings (docs/SCALE.md "Python workers").
- Driver JIT: C2 promotion thresholds raised ×C2_THRESHOLD_SCALE over
  HotSpot's defaults. A small round runs its planning code (Catalyst
  rules, the planner, generated classes over a few dozen rows) a few
  thousand times; at the default thresholds C2 compiled it anyway and
  burned more CPU than the tasks it served. Per-row loops over millions
  of rows still reach C2, so a large pass keeps its steady speed (C1-only
  would double it). See docs/SCALE.md "JIT tier".
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# generated-code cache entries (static conf, read once per JVM): well above
# the ~86 distinct classes a crawl round compiles
CODEGEN_CACHE_ENTRIES = 2000

# HotSpot's C2 (tier 4) promotion thresholds, JDK 17 defaults, and the
# factor the driver raises them by (docs/SCALE.md "JIT tier")
C2_THRESHOLD_DEFAULTS = {
    "Tier4InvocationThreshold": 5000,
    "Tier4MinInvocationThreshold": 600,
    "Tier4CompileThreshold": 15000,
    "Tier4BackEdgeThreshold": 40000,
}
C2_THRESHOLD_SCALE = 5
DRIVER_JAVA_OPTIONS = " ".join(
    # G1 (default) collapses under 32 allocation-heavy threads in one JVM
    # (measured: 2x slower at local[32] than local[8]); throughput GC
    # restores near-linear scaling for codegen'd string/row allocation
    ["-XX:+UseParallelGC"]
    + [f"-XX:{k}={v * C2_THRESHOLD_SCALE}" for k, v in C2_THRESHOLD_DEFAULTS.items()]
)

# directory holding the anycrawl_spark package the driver imports
PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _mem_total_bytes() -> int:
    """Physical memory of this machine (``MemTotal`` in /proc/meminfo,
    else the page count sysconf reports)."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def default_driver_memory(mem_total_bytes: int | None = None) -> str:
    """Driver heap when SPARK_DRIVER_MEM is unset: half of physical memory
    (in whole MiB, at least 1g), leaving the rest to the Python workers, the
    JVM's off-heap memory and the page cache. A fixed default either starves
    a large box or gets a small one OOM-killed."""
    total = _mem_total_bytes() if mem_total_bytes is None else mem_total_bytes
    return f"{max(1024, total // 2 // (1 << 20))}m"


def default_cores() -> int:
    """Local cores when none are given: ``SPARK_GRAFT_CPUS`` if set, else
    the CPUs this process may run on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "anycrawl_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cores is None:
        cores = default_cores()
    if shuffle_partitions is None:
        shuffle_partitions = cores
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # default 64m coalesces medium shuffles below the core count and
        # starves wide clusters; 8m keeps parallelism >= cores at bench scale
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or default_driver_memory())
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.daemon.module", "anycrawl_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # read only when the gateway JVM launches: a session restarted in
        # the same Python process keeps the flags it started with
        .config("spark.driver.extraJavaOptions", DRIVER_JAVA_OPTIONS)
        # shuffle files on tmpfs: local-mode shuffles are disk round-trips on
        # the driver host; with 126G of tmpfs there is no reason to thrash the
        # block device (32 concurrent shuffle writers anti-scale on one disk)
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # modest auto-broadcast cap: a multi-million-row dim broadcast is a
        # serial driver-side hash-table build (~15-20s) that AQE will happily
        # pick when compressed shuffle bytes look small; genuinely small dims
        # (jobs, robots, locales) are explicitly hinted with F.broadcast
        .config("spark.sql.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", str(8 * 1024 * 1024))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark
