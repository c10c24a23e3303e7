"""One benchmark run: set-up, the workload's crawl(s), the traced layer
passes, the output checks and the metric record."""

from __future__ import annotations

import os
from statistics import median
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import crawl
import layers
from tracing import RssSampler, StealMeter, Tracer

SETUPS = 3              # session set-ups per run; setup_s is their median


def cpu_probe(n: int) -> float:
    """Median wall of a fixed integer kernel run on ``n`` threads at once
    (NumPy releases the GIL): recorded beside each run so that a busy
    machine shows; never used to gate or scale a result."""
    import numpy as np

    def kernel(_):
        t = time.perf_counter()
        a = np.arange(2_000_000, dtype=np.uint64)
        for _ in range(12):
            a = a * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
            a ^= a >> np.uint64(33)
        return time.perf_counter() - t

    with ThreadPoolExecutor(n) as pool:
        return median(pool.map(kernel, range(n)))


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _warm_workers(spark, cores: int) -> None:
    """Start every Python worker and import the engine's operator modules in
    it, so the first crawl round does not pay for the imports."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def _imports(s):
        import anycrawl_spark.crawl.fetcher  # noqa: F401
        import anycrawl_spark.operators.gates  # noqa: F401
        import anycrawl_spark.operators.seen  # noqa: F401
        import anycrawl_spark.operators.spans  # noqa: F401

        return s

    (spark.range(cores * 2000, numPartitions=cores * 2).select(_imports("id"))
     .write.format("noop").mode("overwrite").save())


def _inputs(spark, workload: str, seed: int, trace: bool) -> dict:
    """The workload's generated inputs (a traced run makes both kinds)."""
    out = {}
    if workload == "crawl_multi_job" or trace:
        out["crawl"] = crawl.make_jobs(crawl.MULTI_JOB, seed)
    if workload == "superstep_kernels" or trace:
        out["frontier"] = layers.frontier_tables(spark, seed)
        out["fetch_urls"] = layers.fetch_urls(seed)
    return out


def _setup(workload: str, seed: int, cores: int, trace: bool):
    """Session start + Python worker warm-up + input generation, SETUPS
    times: the first start also launches the JVM, the others restart the
    SparkContext in it. Returns the live session, the inputs and the
    per-sample timings."""
    from anycrawl_spark.session import get_spark

    samples = []
    spark = None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{workload}", cores=cores, shuffle_partitions=cores)
        t1 = time.perf_counter()
        _warm_workers(spark, cores)
        t2 = time.perf_counter()
        inputs = _inputs(spark, workload, seed, trace)
        t3 = time.perf_counter()
        samples.append({"start_s": t1 - t0, "warm_s": t2 - t1, "inputs_s": t3 - t2,
                        "total_s": t3 - t0})
    return spark, inputs, samples


def _checks(group: str, fn, *args) -> list[tuple[str, bool]]:
    try:
        return fn(*args)
    except Exception:  # a check that raises counts as a failed check
        traceback.print_exc()
        return [(f"{group}.raised", False)]


def _crawls(spark, inputs, seconds, work, tracer, checks) -> list[dict]:
    jobs, robots = inputs["crawl"]
    shape = crawl.MULTI_JOB
    out, t0 = [], time.perf_counter()
    # one crawl takes longer than --seconds, so a run makes one unless the
    # budget is raised
    while not out or time.perf_counter() - t0 < seconds:
        res = crawl.run_crawl(spark, os.path.join(work, f"store-{len(out)}"),
                              shape, jobs, robots, tracer)
        checks += _checks("crawl", crawl.check_crawl, res, shape, jobs, robots)
        res.pop("engine")
        out.append(res)
    return out


def _kernel_passes(spark, inputs, seed, seconds, tracer, checks) -> list[dict]:
    """Superstep kernel + fetch passes over the generated state: one, more
    only while ``seconds`` have not passed. The first pass in a session pays
    for code generation and JIT warm-up, as a new session's first superstep
    does."""
    state = layers.prepare_kernel(spark, inputs["frontier"])
    urls = inputs["fetch_urls"]
    out, t0 = [], time.perf_counter()
    while not out or time.perf_counter() - t0 < seconds:
        k = layers.run_kernel(spark, state, seed, tracer)
        checks += _checks("kernel", layers.check_kernel, k, seed)
        f = layers.run_fetch(spark, urls, _cores(), tracer)
        checks += _checks("fetch", layers.check_fetch, f, urls)
        out.append({**k, "fetch_s": f["wall_s"], "fetch_cpu_s": f["cpu_s"]})
    layers.release_kernel(state)
    return out


def run(workload: str, seed: int, seconds: float, trace: bool, work: str,
        stop_spark) -> dict:
    cores = _cores()
    tracer = Tracer(trace)
    probe_before = cpu_probe(cores)
    steal = StealMeter()
    crawls, kernels, queries, checks = [], [], {}, []
    with RssSampler() as rss:
        spark, inputs, setups = _setup(workload, seed, cores, trace)
        try:
            # the traced run covers every layer on every workload
            if workload == "crawl_multi_job" or trace:
                crawls = _crawls(spark, inputs, seconds, work, tracer, checks)
            if workload == "superstep_kernels" or trace:
                kernels = _kernel_passes(
                    spark, inputs, seed, seconds if workload == "superstep_kernels" else 0,
                    tracer, checks)
            if trace:
                corpus = os.path.join(work, "corpus")
                layers.write_corpus(corpus, seed)
                # the DuckDB comparison runs every query once first, so the
                # timed pass below measures warm queries
                checks += _checks("query", layers.check_queries, spark, corpus)
                queries = layers.run_queries(spark, corpus, tracer)
        finally:
            stop_spark(spark)
    probe_after = cpu_probe(cores)

    rounds = [r for c in crawls for r in c["rounds"]]
    failed = sum(1 for _, ok in checks if not ok)
    report = {
        "workload": workload, "seed": seed, "cores": cores, "trace": trace,
        "cpu_probe_s": [probe_before, probe_after], "steal": steal.share(), "setups": setups,
        "crawls": [{k: v for k, v in c.items() if k != "rounds"} for c in crawls],
        "rounds": rounds, "kernel_passes": kernels, "queries": queries, "checks": checks,
    }
    if trace:
        values = _layer_metrics(tracer, setups, crawls, rounds, kernels, queries)
        tracer.dump(os.path.join(os.path.dirname(work), "traces",
                                 f"{workload}-seed{seed}.json"), report)
    else:
        values = {"setup_s": (median([s["total_s"] for s in setups]), "s")}
        # CPU seconds of the whole process tree (driver JVM, Python workers,
        # this process): unlike wall time they do not grow when the host
        # steals CPU from this guest, which on a shared 4-CPU VM moves wall
        # times by up to 40% between runs (see README)
        if workload == "crawl_multi_job":
            cpu = sum(c["crawl_cpu_s"] for c in crawls)
            values.update({
                "round_cpu_p50_s": (median([r["cpu_s"] for r in rounds]), "cpu_s"),
                "pages_per_cpu_s": (sum(c["pages"] for c in crawls) / cpu, "pages/cpu_s"),
                "frontier_urls_per_cpu_s": (
                    sum(c["pages"] + c["enqueued"] for c in crawls) / cpu, "URLs/cpu_s"),
            })
        else:
            cpu = median([k["cpu_s"] for k in kernels])
            values.update({
                "round_cpu_p50_s": (cpu, "cpu_s"),
                "pages_per_cpu_s": (layers.N_FETCH / median([k["fetch_cpu_s"] for k in kernels]),
                                    "pages/cpu_s"),
                "frontier_urls_per_cpu_s": ((layers.N_PENDING + layers.N_CANDIDATES) / cpu,
                                            "URLs/cpu_s"),
            })
        values["peak_rss_mb"] = (rss.peak_mb, "MB")
    metrics = {k: {"value": v, "unit": u} for k, (v, u) in values.items()}
    _print_report(report, metrics, failed, len(checks))
    return {"correct": failed == 0, "attempted": len(checks), "failed": failed,
            "metrics": metrics}


def _layer_metrics(tracer: Tracer, setups, crawls, rounds, kernels, queries) -> dict:
    n = len(rounds)

    def per_round(name):
        return median([tracer.total(name, within=r["span"]) for r in rounds])

    def per_pass(key):
        return median([k[key] for k in kernels])

    resume_spans = [s["id"] for s in tracer.spans if s["name"] == "superstep.resume"]
    pages = sum(c["pages"] for c in crawls)
    return {
        "session.start_s": (median([s["start_s"] for s in setups]), "s"),
        "session.warm_s": (median([s["warm_s"] for s in setups]), "s"),
        "superstep.round_wall_p50_s": (median([r["wall_s"] for r in rounds]), "s"),
        "superstep.pages_per_s": (pages / sum(c["crawl_s"] for c in crawls), "pages/s"),
        "superstep.jobs_per_round": (sum(r["jobs"] for r in rounds) / n, "count"),
        "superstep.stages_per_round": (sum(r["stages"] for r in rounds) / n, "count"),
        "superstep.tasks_per_round": (sum(r["tasks"] for r in rounds) / n, "count"),
        "superstep.driver_self_s": (median([tracer.self_time(r["span"]) for r in rounds]), "s"),
        "superstep.sched_ratio": (sum(r["scheduled"] for r in rounds)
                                  / sum(r["pending"] for r in rounds), "ratio"),
        "superstep.job_done_p50_s": (median([c["job_done_p50_s"] for c in crawls]), "s"),
        "superstep.resume_s": (median([w for c in crawls for w in c["resume_walls"]]), "s"),
        "storage.append_s": (per_round("storage.append"), "s"),
        "storage.write_s": (per_round("storage.write"), "s"),
        "storage.commit_s": (per_round("storage.commit_round"), "s"),
        "storage.files_per_round": (sum(r["files"] for r in rounds) / n, "count"),
        "storage.bytes_per_round": (sum(r["bytes"] for r in rounds) / n, "B"),
        "storage.bytes_per_page": (sum(c["stored_bytes"] for c in crawls) / pages, "B/page"),
        "storage.read_s": (median([tracer.total("storage.read", within=s)
                                    + tracer.total("storage.read_appends", within=s)
                                    for s in resume_spans]), "s"),
        "gates.schedule_s": (per_pass("schedule_s"), "s"),
        "gates.candidate_gate_s": (per_pass("candidate_gate_s"), "s"),
        "seen.dedup_s": (per_pass("dedup_s"), "s"),
        "seen.merge_s": (per_pass("merge_s"), "s"),
        "seen.fresh_ratio": (kernels[0]["fresh"] / kernels[0]["kept"], "ratio"),
        "kernel.superstep_wall_s": (per_pass("wall_s"), "s"),
        "kernel.frontier_urls_per_s": ((layers.N_PENDING + layers.N_CANDIDATES)
                                       / per_pass("wall_s"), "URLs/s"),
        "spans.fetch_pages_per_s": (layers.N_FETCH / per_pass("fetch_s"), "pages/s"),
        **{f"query.{q}_s": (v, "s") for q, v in queries.items()},
        "query.total_s": (sum(queries.values()), "s"),
    }


def _print_report(report: dict, metrics: dict, failed: int, attempted: int) -> None:
    err = sys.stderr
    print(f"# perfbench {report['workload']} seed={report['seed']} cores={report['cores']} "
          f"trace={int(report['trace'])} cpu_probe_s={report['cpu_probe_s'][0]:.3f}"
          f"/{report['cpu_probe_s'][1]:.3f} cpu_steal={report['steal']:.3f}", file=err)
    for c in report["crawls"]:
        print(f"#   crawl: {len(report['rounds'])} rounds, pages={c['pages']} "
              f"enqueued={c['enqueued']} jobs_finalized={c['jobs_finalized']} "
              f"crawl_s={c['crawl_s']:.2f} crawl_cpu_s={c['crawl_cpu_s']:.2f} "
              f"init_s={c['init_s']:.2f}", file=err)
    for s in report["setups"]:
        print(f"#   setup: start {s['start_s']:.2f} s warm {s['warm_s']:.2f} s "
              f"inputs {s['inputs_s']:.2f} s", file=err)
    for k in report["kernel_passes"]:
        print(f"#   kernel pass: schedule {k['schedule_s']:.2f} gate {k['candidate_gate_s']:.2f} "
              f"dedup {k['dedup_s']:.2f} merge {k['merge_s']:.2f} s (cpu {k['cpu_s']:.2f} s) "
              f"fetch {k['fetch_s']:.2f} s (cpu {k['fetch_cpu_s']:.2f} s)", file=err)
    for r in report["rounds"]:
        print(f"#   round {r['round']}: {r['wall_s']:.2f} s cpu={r['cpu_s']:.2f} s "
              f"scheduled={r['scheduled']} "
              f"fresh={r['fresh']} spark_jobs={r['jobs']} stages={r['stages']} "
              f"tasks={r['tasks']} files={r['files']} bytes={r['bytes']}", file=err)
    for name, m in metrics.items():
        print(f"#   {name} = {m['value']:.6g} {m['unit']}", file=err)
    if report["trace"]:
        print("#   (storage.* times include the Spark work each write materializes)",
              file=err)
    ratio = failed / attempted if attempted else 1.0
    print(f"#   check_fail_ratio = {ratio:.3g} ({failed}/{attempted})"
          + "".join(f"\n#   FAILED {n}" for n, ok in report["checks"] if not ok), file=err)
