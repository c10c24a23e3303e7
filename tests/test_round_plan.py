"""Plan shape of a crawl round: every Python UDF on the fresh-set path is
evaluated once per row. The candidate gate is nondeterministic to Catalyst
(so a filter on its ``keep`` field is not pushed below the projection that
reads ``url``/``host``), and the round caches the probed candidates that
both bloom-verdict branches of ``split_fresh`` read."""

from collections import Counter

from pyspark.sql import functions as F

from anycrawl_spark import synth
from anycrawl_spark.crawl import superstep
from anycrawl_spark.crawl.params import CrawlParams
from anycrawl_spark.operators.gates import make_candidate_gate


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
