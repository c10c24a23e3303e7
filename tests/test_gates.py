"""Scheduling gates: the flag pass against the filtering operators, budget window."""

import pandas as pd
from pyspark.sql import functions as F

from anycrawl_spark.crawl.params import CrawlParams


def _pending(spark, n=3000, hosts=5):
    rows = []
    for i in range(n):
        # host0 is the mega-host: 60% of rows
        h = "mega.com" if i % 10 < 6 else f"h{i % hosts}.com"
        rows.append((f"job-{i % 3}", f"http://{h}/p/{i}", i * 2654435761 % 2**31,
                     h, i % 7, i))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["job_id", "url", "url_hash", "host", "depth", "discovery_seq"])
    )


def test_flag_schedule_paths_agree_and_windows_reuse_job_id_input(spark):
    """The flag pass picks exactly what the filtering operators keep:
    politeness then budget over the eligible rows of the active jobs."""
    import re

    from anycrawl_spark.operators.gates import (
        apply_budget, apply_politeness, flag_schedule, tokens_expr,
    )

    params = CrawlParams(default_host_tokens=7)
    delays = {"mega.com": 250}  # 4 tokens
    active = ["job-0", "job-1"]
    remaining = {"job-0": 20, "job-1": 2000}
    df = _pending(spark).withColumns({
        "status": F.lit("pending"),
        # every 5th row is still backing off; job-2 is not active
        "next_eligible_round": F.when(F.col("discovery_seq") % 5 == 0, 3).otherwise(0),
    })
    # the closure regime's plan: input repartitioned by job_id
    flagged = flag_schedule(
        df.repartition("job_id"), 1, active, remaining, tokens_expr(delays, params)
    )
    picked = {(r.job_id, r.url) for r in flagged.filter("_sched").collect()}
    eligible = df.filter((F.col("next_eligible_round") <= 1) & F.col("job_id").isin(active))
    oracle = apply_budget(apply_politeness(eligible, delays, params), remaining)
    assert picked == {(r.job_id, r.url) for r in oracle.collect()}
    assert {j for j, _ in picked} == {"job-0", "job-1"}
    assert sum(j == "job-0" for j, _ in picked) == 20
    # cap respected: the mega host gets at most its 4 tokens per job
    mega = [j for j, u in picked if u.startswith("http://mega.com/")]
    assert mega and all(mega.count(j) <= 4 for j in active)
    plan = flagged._jdf.queryExecution().executedPlan().toString()
    # both windows reuse the input's job_id exchange
    assert re.findall(r"Exchange hashpartitioning\((\w+)", plan) == ["job_id"]
    assert len(re.findall(r"\bWindow \[", plan)) == 2


def test_budget_window(spark):
    from anycrawl_spark.operators.gates import apply_budget

    df = _pending(spark, n=300)
    out = apply_budget(df, {"job-0": 10, "job-1": 0, "job-2": 5})
    counts = {r.job_id: r.c for r in out.groupBy("job_id").agg(F.count("*").alias("c")).collect()}
    assert counts.get("job-0") == 10
    assert "job-1" not in counts
    assert counts.get("job-2") == 5
    # lowest (depth, seq) first: job-0 keeps its depth-0 rows
    kept = [r for r in out.collect() if r.job_id == "job-0"]
    assert all(r.depth == 0 for r in kept)


def test_robots_path_port_bearing():
    """urlsplit-based path extraction: a naive url.split(host) yields
    ':8080/p' for port-bearing URLs and mis-matches every robots prefix."""
    from anycrawl_spark.crawl.params import robots_decision, robots_path

    assert robots_path("http://example.com:8080/private/x") == "/private/x"
    assert robots_path("http://example.com/p/1") == "/p/1"
    assert robots_path("http://example.com") == "/"
    assert robots_path("http://example.com:8080") == "/"
    rules = [("disallow", "/private")]
    assert robots_decision(rules, robots_path("http://h.com:8080/private/x")) is False
    assert robots_decision(rules, robots_path("http://h.com:8080/public")) is True


def test_candidate_gate_robots_with_port(spark):
    """Gate kernel must apply robots to the path, not ':port/path'."""
    from anycrawl_spark.functions.urls import url_host
    from anycrawl_spark.operators.gates import make_candidate_gate

    jobs = [{
        "job_id": "j", "seed_url": "http://site-0.synth:8080/p/0",
        "strategy": "all", "max_depth": 5, "limit": 100,
    }]
    host = url_host("http://site-0.synth:8080/p/0")  # includes the port
    robots = {host: [("disallow", "/private")]}
    gate = make_candidate_gate(jobs, robots)
    df = spark.createDataFrame(
        [("j", "http://site-0.synth:8080/private/a"),
         ("j", "http://site-0.synth:8080/p/1")],
        "job_id string, url string",
    )
    out = df.select(
        gate(F.col("job_id"), F.col("url"), F.lit(None)).alias("g")
    ).select("g.*")
    keep = {r.url: r.keep for r in out.collect()}
    blocked = [u for u, k in keep.items() if not k]
    allowed = [u for u, k in keep.items() if k]
    assert any("/private/" in u for u in blocked)
    assert any("/p/1" in u for u in allowed)


def test_retryable_predicate_parity(spark):
    """Engine column predicate == simulator is_retryable for ALL statuses,
    including the >=500 band outside RETRYABLE_STATUSES (501, 599, ...)."""
    from anycrawl_spark.crawl.params import is_retryable, is_retryable_col

    statuses = list(range(100, 600))
    df = spark.createDataFrame([(s,) for s in statuses], "status_code int")
    got = {
        r.status_code: r.retry
        for r in df.select(
            "status_code", is_retryable_col(F.col("status_code")).alias("retry")
        ).collect()
    }
    for s in statuses:
        assert got[s] == is_retryable(s), f"status {s}"
