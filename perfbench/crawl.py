"""The crawl workload: seeded job generation, the timed crawl with a
stop + fresh-engine resume, and its parity check against the reference
simulator."""

from __future__ import annotations

import os
import random
import statistics
import time
from dataclasses import dataclass

from anycrawl_spark import synth
from anycrawl_spark.crawl.params import CrawlParams
from anycrawl_spark.crawl.simulator import ReferenceSimulator
from anycrawl_spark.crawl.superstep import CrawlEngine

from tracing import JobCounter, Tracer, tree_cpu_s

ROUNDS = 2          # rounds 0..1; most jobs reach their limit in round 1
STOP_AFTER = 0      # the crawl is stopped after this round and resumed
RESUMES = 1         # fresh-engine resumes timed per crawl
STORE_METHODS = ("append", "write", "commit_round", "read", "read_appends")


@dataclass(frozen=True)
class CrawlShape:
    web: synth.WebConfig
    n_jobs: int
    limit: int
    strategies: tuple[str, ...]


# Many small jobs: rounds carry ~30-90 URLs, so a round's cost is the
# engine's fixed per-round orchestration and snapshot work.
MULTI_JOB = CrawlShape(
    web=synth.WebConfig(n_hosts=400, mega_hosts=4, mega_pages=600, max_pages=120),
    n_jobs=32, limit=4, strategies=("same-domain", "all"),
)
PARAMS = CrawlParams(default_host_tokens=200, max_rounds=ROUNDS)


def make_jobs(shape: CrawlShape, seed: int) -> tuple[list[dict], list[dict]]:
    """The seed picks the seed hosts and which job gets which strategy.
    Seed hosts are plain hosts (no robots rule) with enough pages for the
    limit and a fetchable front page, so every job has work to do."""
    rng = random.Random(seed)
    web = shape.web
    robots = synth.robots_rules(web)
    ruled = {r["host"] for r in robots}
    hosts = [
        h for h in (synth.host_name(i, web) for i in range(web.mega_hosts, web.n_hosts))
        if h not in ruled
        and synth.host_pages(h, web) >= 20
        and synth.page_status(synth.page_url(h, 0)) == 200
    ]
    picks = rng.sample(hosts, shape.n_jobs)
    strategies = [shape.strategies[i % len(shape.strategies)] for i in range(shape.n_jobs)]
    rng.shuffle(strategies)
    jobs = [
        {
            "job_id": f"job-{i:03d}", "seed_url": synth.page_url(h, 0),
            "engine": "cheerio", "strategy": s, "max_depth": 12,
            "limit": shape.limit, "include_paths": [], "exclude_paths": [],
            "scrape_paths": [], "status": "running",
        }
        for i, (h, s) in enumerate(zip(picks, strategies))
    ]
    return jobs, robots


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _engine(spark, wd, jobs, robots, shape, tracer: Tracer) -> CrawlEngine:
    eng = CrawlEngine(spark, wd, jobs, robots, PARAMS, web=shape.web)
    for m in STORE_METHODS:
        tracer.wrap(eng.store, m, f"storage.{m}")
    return eng


def _lineage_since(store, before: set[str]) -> tuple[int, int]:
    files = nbytes = 0
    for d, ent in store.manifest["lineage"].items():
        if d not in before:
            files += len(ent["files"])
            nbytes += ent["bytes"]
    return files, nbytes


def _counters(eng: CrawlEngine) -> tuple:
    """Driver counters a resume must restore (pending only matters for jobs
    still running: a finalized job's leftovers leave the frontier)."""
    active = {j: n for j, n in eng.pending.items() if j not in eng.finalized}
    return dict(eng.done), dict(eng.enqueued), active, set(eng.finalized)


def run_crawl(spark, workdir: str, shape: CrawlShape, jobs, robots, tracer: Tracer) -> dict:
    """One crawl: init_state, rounds 0..STOP_AFTER, RESUMES fresh-engine
    resumes on the stopped store, then the remaining rounds on the last
    resumed engine. The crawl clock counts init_state and run_round only."""
    counter = JobCounter(spark.sparkContext)
    eng = _engine(spark, workdir, jobs, robots, shape, tracer)
    t0, c0 = time.perf_counter(), tree_cpu_s()
    with tracer.span("superstep.init_state"):
        eng.init_state()
    init_s, init_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    rounds: list[dict] = []
    finalized_at: dict[str, int] = {}

    def one_round(e: CrawlEngine, rnd: int) -> None:
        pending = sum(e.pending[j] for j in e.pending if j not in e.finalized)
        before = set(e.store.manifest["lineage"])
        counter.start()
        with tracer.span("superstep.run_round", round=rnd) as sid:
            t, c = time.perf_counter(), tree_cpu_s()
            stats = e.run_round(rnd)
            wall, cpu = time.perf_counter() - t, tree_cpu_s() - c
        counts = counter.stop()
        files, nbytes = _lineage_since(e.store, before)
        for j in e.finalized:
            finalized_at.setdefault(j, rnd)
        rounds.append({
            "round": rnd, "wall_s": wall, "cpu_s": cpu, "pending": pending,
            "scheduled": stats["scheduled"], "fresh": stats["fresh"],
            "files": files, "bytes": nbytes, "span": sid,
            **counts,
        })

    for rnd in range(STOP_AFTER + 1):
        one_round(eng, rnd)
    stopped = _counters(eng)

    resume_walls = []
    for _ in range(RESUMES):
        eng = _engine(spark, workdir, jobs, robots, shape, tracer)
        with tracer.span("superstep.resume"):
            t = time.perf_counter()
            nxt = eng.resume()
            resume_walls.append(time.perf_counter() - t)
    resumed = _counters(eng)

    for rnd in range(nxt, ROUNDS):
        if len(eng.finalized) == len(jobs):
            break
        one_round(eng, rnd)

    clock = init_s
    done_at: dict[int, float] = {}
    for r in rounds:
        clock += r["wall_s"]
        done_at[r["round"]] = clock
    job_done = sorted(done_at[finalized_at[j["job_id"]]] if j["job_id"] in finalized_at
                      else float("inf") for j in jobs)
    return {
        "engine": eng, "init_s": init_s, "rounds": rounds, "crawl_s": clock,
        "crawl_cpu_s": init_cpu + sum(r["cpu_s"] for r in rounds),
        "resume_walls": resume_walls, "resume_matches": stopped == resumed,
        "job_done_p50_s": statistics.median(job_done),
        "jobs_finalized": len(finalized_at),
        "pages": sum(eng.done.values()), "enqueued": sum(eng.enqueued.values()),
        "stored_bytes": _dir_bytes(workdir),
    }


def check_crawl(res: dict, shape: CrawlShape, jobs, robots) -> list[tuple[str, bool]]:
    """Parity with the pure-Python reference simulator run for the same
    number of rounds, plus resume and page-count consistency."""
    eng = res["engine"]
    sim = ReferenceSimulator(jobs, robots, PARAMS, web=shape.web)
    sim.run()
    sim_pages = sum(st.done for st in sim.states.values())
    return [
        ("crawl.seen_sets", eng.seen_sets() == sim.seen_sets()),
        ("crawl.discovery", eng.discovery() == sim.discovery()),
        ("crawl.terminal_status", eng.terminal_status() == sim.terminal_status()),
        ("crawl.pages_fetched", res["pages"] == sim_pages),
        ("crawl.resume_counters", res["resume_matches"]),
        ("crawl.job_done_defined", res["job_done_p50_s"] != float("inf")),
    ]
