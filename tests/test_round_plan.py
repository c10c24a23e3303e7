"""Plan shape of a crawl round.

- Every Python UDF on the fresh-set path is evaluated once per row. The
  candidate gate is nondeterministic to Catalyst (so a filter on its
  ``keep`` field is not pushed below the projection that reads
  ``url``/``host``), and the round caches the probed candidates that both
  bloom-verdict branches of ``split_fresh`` read.
- A round is planned statically (``superstep.static_plan``): no AQE, its
  shuffles sized from the driver's row bound, and exact Spark job / stage /
  task counts that do not grow with the session's shuffle partitions.
- The robots dim regime keeps its co-partitioned joins under that plan.
"""

import re
from collections import Counter

import pytest
from pyspark.sql import functions as F

from anycrawl_spark import synth
from anycrawl_spark.crawl import superstep
from anycrawl_spark.crawl.params import CrawlParams
from anycrawl_spark.operators.gates import (
    apply_robots_dim,
    dim_tokens_expr,
    flag_schedule,
    make_candidate_gate,
    with_dim_delays,
)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


def udf_evaluations(plan) -> Counter:
    """Python UDF name -> ArrowEvalPython stages that evaluate it when
    ``plan`` (an executed SparkPlan) runs. A cached relation is evaluated
    once however many scans read it, so each is walked once (its tree
    string repeats it under every scan)."""
    out: Counter = Counter()
    cached = []
    todo = [plan]
    while todo:
        node = todo.pop()
        name = node.nodeName()
        if name == "ArrowEvalPython":
            out.update(u.name() for u in _seq(node.udfs()))
        if name == "AdaptiveSparkPlan":
            todo.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            todo.append(node.plan())
        elif name == "InMemoryTableScan":
            rel = node.relation().cacheBuilder()
            if not any(rel.equals(c) for c in cached):
                cached.append(rel)
                todo.append(node.relation().cachedPlan())
        else:
            todo.extend(_seq(node.children()))
    return out


def test_round_fresh_plan_evaluates_each_udf_once(spark, tmp_path, monkeypatch):
    plans = []
    real = superstep.split_fresh

    def capture(probed, seen):
        fresh = real(probed, seen)
        # planned while the round's caches are registered, as the round runs it
        plans.append(fresh._jdf.queryExecution().executedPlan())
        return fresh

    monkeypatch.setattr(superstep, "split_fresh", capture)
    jobs = [dict(synth.seed_jobs(1)[0], limit=12)]
    eng = superstep.CrawlEngine(
        spark, str(tmp_path / "c"), jobs, synth.robots_rules(),
        CrawlParams(max_rounds=2), num_buckets=8,
    )
    eng.init_state()
    eng.run_round(0)
    eng.run_round(1)
    assert len(plans) == 2
    for plan in plans:
        assert "AdaptiveSparkPlan" not in plan.toString()
        evals = udf_evaluations(plan)
        assert evals["gate"] == 1, evals
        assert evals["probe"] == 1, evals


def test_gate_column_function_evaluates_once(spark):
    """The gate used as a column function (filter on ``keep``, select
    ``url``) runs in one ArrowEvalPython stage, not one per field."""
    jobs = [{"job_id": "j", "seed_url": "http://a.example.com/", "strategy": "all",
             "include_paths": [], "exclude_paths": []}]
    gate = make_candidate_gate(jobs, {})
    cands = spark.createDataFrame(
        [("j", "http://a.example.com/x", None), ("j", "not a url", None),
         ("k", "http://b.example.com/", None)],
        "job_id string, url string, parent_url string",
    )
    g = cands.withColumn("g", gate("job_id", "url", "parent_url"))
    kept = g.filter(F.col("g.keep")).select(F.col("g.url").alias("url"))
    plan = kept._jdf.queryExecution().executedPlan()
    assert udf_evaluations(plan)["gate"] == 1
    assert [r.url for r in kept.collect()] == ["http://a.example.com/x"]


class JobCounter:
    """Spark jobs / stages / tasks started between ``start`` and ``stop``,
    from ``statusTracker()``. Stages a job lists but skips (their shuffle
    output already exists) ran no task and are not counted."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()

    def start(self) -> None:
        self._before = set(self.tracker.getJobIdsForGroup())

    def stop(self) -> tuple[int, int, int]:
        new = set(self.tracker.getJobIdsForGroup()) - self._before
        stages = set()
        for j in new:
            stages.update(self.tracker.getJobInfo(j).stageIds)
        ran = [s for s in map(self.tracker.getStageInfo, stages)
               if s is not None and s.numCompletedTasks > 0]
        return len(new), len(ran), sum(s.numCompletedTasks for s in ran)


def _crawl_counts(spark, workdir) -> list[tuple[int, int, int]]:
    """(jobs, stages, tasks) of init_state and rounds 0 and 1 of a small
    two-job crawl."""
    jobs = [dict(j, limit=6) for j in synth.seed_jobs(2)]
    eng = superstep.CrawlEngine(
        spark, workdir, jobs, synth.robots_rules(), CrawlParams(max_rounds=2),
        num_buckets=8,
    )
    counter = JobCounter(spark.sparkContext)
    counter.start()
    eng.init_state()
    out = [counter.stop()]
    for rnd in range(2):
        counter.start()
        eng.run_round(rnd)
        out.append(counter.stop())
    return out


# (jobs, stages, tasks) of _crawl_counts: init_state writes three tables and
# collects the seed keys; a round runs one job per action, not one per
# shuffle stage, with single-partition shuffles (the fetch repartition
# included) below the row bound, and merges its fresh keys into the
# driver-resident bloom shards without a job
INIT_COUNTS = (4, 4, 11)
ROUND_COUNTS = [(7, 11, 14), (7, 11, 15)]


def test_static_round_counts_ignore_session_partitions(spark, tmp_path):
    assert _crawl_counts(spark, str(tmp_path / "a")) == [INIT_COUNTS, *ROUND_COUNTS]
    before = spark.conf.get(superstep.SHUFFLE_PARTITIONS)
    spark.conf.set(superstep.SHUFFLE_PARTITIONS, "64")
    try:
        assert _crawl_counts(spark, str(tmp_path / "b")) == [INIT_COUNTS, *ROUND_COUNTS]
    finally:
        spark.conf.set(superstep.SHUFFLE_PARTITIONS, before)


def test_round_partitions_follow_row_bound():
    rows = superstep.ROUND_ROWS_PER_PARTITION
    assert superstep.round_partitions(0, 8) == 1
    assert superstep.round_partitions(30, 12_000) == 1
    assert superstep.round_partitions(rows + 1, 12_000) == 2
    assert superstep.round_partitions(rows * 100, 8) == 8


def test_synth_pages_stay_within_href_bound():
    web = synth.DEFAULT_WEB
    for i in range(web.n_hosts):
        host = synth.host_name(i, web)
        for k in range(synth.host_pages(host, web)):
            hrefs = synth.page_hrefs(synth.page_url(host, k), web)
            assert len(hrefs) <= synth.MAX_PAGE_HREFS


def _confs(spark):
    return {k: spark.conf.get(k) for k in (superstep.AQE, superstep.SHUFFLE_PARTITIONS)}


def test_round_scopes_confs_to_itself(spark, tmp_path, monkeypatch):
    """The round's confs hold for every write it makes (pool threads
    included) and read as before once it returns or raises."""
    jobs = [dict(synth.seed_jobs(1)[0], limit=3)]
    eng = superstep.CrawlEngine(
        spark, str(tmp_path / "c"), jobs, synth.robots_rules(),
        CrawlParams(max_rounds=1), num_buckets=8,
    )
    eng.init_state()
    before = _confs(spark)
    seen_confs = []
    real_append = eng.store.append

    def append(*a, **kw):
        seen_confs.append(_confs(spark))
        return real_append(*a, **kw)

    eng.store.append = append
    expected_partitions = str(superstep.round_partitions(
        eng.round_rows(), int(before[superstep.SHUFFLE_PARTITIONS])
    ))
    eng.run_round(0)
    assert _confs(spark) == before
    # documents, metrics, frontier_log, seen, bloom_shards, progress: four
    # of them from the round's thread pools
    assert len(seen_confs) >= 6
    assert all(
        c == {superstep.AQE: "false", superstep.SHUFFLE_PARTITIONS: expected_partitions}
        for c in seen_confs
    ), seen_confs

    def boom(*a, **kw):
        raise RuntimeError("fetch failed")

    monkeypatch.setattr(superstep, "fetch_extract", boom)
    with pytest.raises(RuntimeError, match="fetch failed"):
        eng.run_round(1)
    assert _confs(spark) == before
    # a query planned after the rounds gets the session's AQE again
    q = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    assert q._jdf.queryExecution().executedPlan().nodeName() == "AdaptiveSparkPlan"


def test_robots_dim_engine_plan_under_static_scope(spark, tmp_path):
    """The dim regime's scheduling and admission joins keep their shape in a
    static round plan: the delay join is a shuffle-hash join whose host
    partitioning the (job_id, host) politeness window reuses, so only the
    budget window adds a job_id exchange, and the admission gate is a
    shuffle-hash join too (never a broadcast of the dim). Past the threshold
    the driver holds no rules or delays beyond the seed hosts."""
    robots = synth.robots_rules()
    eng = superstep.CrawlEngine(
        spark, str(tmp_path / "d"), [dict(synth.seed_jobs(1)[0], limit=5)], robots,
        CrawlParams(), robots_mode="auto", robots_dim_threshold_hosts=1,
    )
    non_seed = {r["host"] for r in robots} - {synth.host_name(0)}
    held = set(eng.robots_by_host) | set(eng.robots_rfc_by_host)
    assert eng.robots_dim is not None and eng.host_delays == {}
    assert not (held & non_seed)
    frontier = spark.range(500).select(
        F.concat(F.lit("job-"), (F.col("id") % 3).cast("string")).alias("job_id"),
        F.concat(
            F.lit("http://h"), (F.col("id") % 50).cast("string"),
            F.lit(".example/p/"), F.col("id").cast("string"),
        ).alias("url"),
        F.xxhash64("id").alias("url_hash"),
        F.concat(
            F.lit("h"), (F.col("id") % 50).cast("string"), F.lit(".example")
        ).alias("host"),
        (F.col("id") % 5).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
    )
    with superstep.static_plan(spark, eng.round_rows()):
        sched = flag_schedule(
            with_dim_delays(
                frontier.withColumns(
                    {"status": F.lit("pending"), "next_eligible_round": F.lit(0)}
                ),
                eng.robots_dim,
            ),
            0, ["job-0", "job-1", "job-2"], {"job-0": 10, "job-1": 10, "job-2": 10},
            dim_tokens_expr(CrawlParams()),
        ).filter("_sched")
        plan = sched._jdf.queryExecution().executedPlan().toString()
        admit = apply_robots_dim(frontier, eng.robots_dim)
        plan2 = admit._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan" not in plan + plan2
    keys = [x.split(",")[0].split("#")[0]
            for x in re.findall(r"hashpartitioning\(([^)]*)\)", plan)]
    assert sorted(keys) == ["host", "host", "job_id"], plan
    assert "ShuffledHashJoin" in plan
    assert "ShuffledHashJoin" in plan2 and "BroadcastHashJoin" not in plan2
    assert "Cartesian" not in plan2
