"""Direct calls into the volume operators and the query catalog: one
superstep's schedule / candidate gate / dedup / shard merge over
JVM-generated frontier state and a fused fetch+extract pass (the
superstep_kernels workload, and part of every traced run), and a query
subset over a generated parquet corpus (traced runs).

Every generated count has a closed form (or a direct Python computation)
that the outputs are checked against.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from anycrawl_spark import queries as Q
from anycrawl_spark import synth
from anycrawl_spark.crawl.params import CrawlParams
from anycrawl_spark.operators.gates import apply_budget, apply_politeness, make_candidate_gate
from anycrawl_spark.operators.seen import (
    broadcast_shards, build_bloom_shards, filter_fresh, merge_bloom_shards, with_dedup_key,
)
from anycrawl_spark.operators.spans import fetch_extract

from tracing import Tracer, tree_cpu_s

# Frontier state: ~20% of pending rows sit on 3 hot hosts with crawl delays.
N_PENDING = 200_000
N_CANDIDATES = 100_000
N_SEEN = 50_000          # every even candidate id below 2*N_SEEN is already seen
N_JOBS = 32
N_HOSTS = 500
N_BUCKETS = 64
HOT_DELAYS = {"hot0.example.com": 100, "hot1.example.com": 200, "hot2.example.com": 500}
KERNEL_PARAMS = CrawlParams(default_host_tokens=8)
N_FETCH = 1500
QUERY_SET = (
    "q_pricing_summary", "q_broadcast_dim_join", "q_anti_join_seen", "q_budget_topk",
    "q_discovery_seq", "q_union_dedup", "q_exact_dup_groups", "q_token_stats",
    "q_minhash_unigram",
)


def _remaining(seed: int) -> dict[str, int]:
    # per-job budgets: some bind (below the politeness-capped supply of
    # ~3.3k rows per job), some do not
    return {f"job-{j}": 1800 + 100 * ((j + seed) % N_JOBS) for j in range(N_JOBS)}


def _pending_host(idx, seed: int, lib):
    """Host id per pending row: -1..-3 = hot hosts, else 0..N_HOSTS-1."""
    hot = lib.pmod(idx * 7 + seed, 10) < 2 if lib is F else (idx * 7 + seed) % 10 < 2
    if lib is F:
        return F.when(hot, -1 - F.pmod(idx, 3)).otherwise(F.pmod(idx * 13 + seed, N_HOSTS))
    return np.where(hot, -1 - idx % 3, (idx * 13 + seed) % N_HOSTS)


def _host_name(hid):
    return F.when(hid < 0, F.concat(F.lit("hot"), (-1 - hid).cast("string"))).otherwise(
        F.concat(F.lit("host"), F.lpad(hid.cast("string"), 4, "0"))
    )


def expected_scheduled(seed: int) -> int:
    idx = np.arange(N_PENDING, dtype=np.int64)
    job = idx % N_JOBS
    host = _pending_host(idx, seed, np)
    keys, counts = np.unique(job * (N_HOSTS + 8) + (host + 3), return_counts=True)
    tokens = np.full(len(keys), KERNEL_PARAMS.default_host_tokens)
    hk = keys % (N_HOSTS + 8) - 3
    for i, d in enumerate(HOT_DELAYS.values()):
        tokens[hk == -1 - i] = KERNEL_PARAMS.host_tokens(d)
    per_job = np.bincount(keys // (N_HOSTS + 8), weights=np.minimum(counts, tokens),
                          minlength=N_JOBS)
    rem = _remaining(seed)
    return int(sum(min(int(per_job[j]), rem[f"job-{j}"]) for j in range(N_JOBS)))


def expected_fresh() -> int:
    return N_CANDIDATES - min(N_SEEN, (N_CANDIDATES + 1) // 2)


def frontier_tables(spark, seed: int):
    idx = F.col("id")
    hid = _pending_host(idx, seed, F)
    host = F.concat(_host_name(hid), F.lit(".example.com"))
    pending = spark.range(N_PENDING).select(
        F.concat(F.lit("job-"), F.pmod(idx, N_JOBS).cast("string")).alias("job_id"),
        F.concat(F.lit("http://"), host, F.lit("/p/"), idx.cast("string")).alias("url"),
        host.alias("host"),
        F.pmod(idx, 6).cast("int").alias("depth"),
        idx.alias("discovery_seq"),
    )

    def cand_url(i):
        h = F.concat(F.lit("host"), F.lpad(F.pmod(i * 17 + seed, N_HOSTS).cast("string"), 4, "0"))
        return F.concat(F.lit("http://"), h, F.lit(".example.com/c/"), i.cast("string"))

    candidates = spark.range(N_CANDIDATES).select(
        F.concat(F.lit("job-"), F.pmod(idx, N_JOBS).cast("string")).alias("job_id"),
        cand_url(idx).alias("url"),
        F.lit(None).cast("string").alias("parent_url"),
    )
    sid = idx * 2
    seen = spark.range(N_SEEN).select(
        F.concat(F.lit("job-"), F.pmod(sid, N_JOBS).cast("string")).alias("job_id"),
        F.xxhash64(cand_url(sid)).alias("url_hash"),
    )
    return pending, candidates, seen


def prepare_kernel(spark, tables) -> dict:
    """The cross-round state a superstep starts from: the seen keys, their
    bloom shards and the shard broadcast (the crawl driver keeps these
    across rounds, so they are built once, outside the timed passes)."""
    pending, candidates, seen = tables
    seen = seen.persist()
    shards = build_bloom_shards(with_dedup_key(seen, N_BUCKETS)).persist()
    shards.count()
    return {"pending": pending, "candidates": candidates, "seen": seen,
            "shards": shards, "bc": broadcast_shards(shards)}


def release_kernel(state: dict) -> None:
    state["seen"].unpersist()
    state["shards"].unpersist()
    state["bc"].destroy()


def run_kernel(spark, k: dict, seed: int, tracer: Tracer) -> dict:
    jobs = [
        {"job_id": f"job-{j}", "seed_url": "http://host0000.example.com/p/0",
         "strategy": "all", "include_paths": [], "exclude_paths": []}
        for j in range(N_JOBS)
    ]
    t0, c0 = time.perf_counter(), tree_cpu_s()
    with tracer.span("gates.schedule"):
        sched = apply_budget(
            apply_politeness(k["pending"], HOT_DELAYS, KERNEL_PARAMS), _remaining(seed)
        )
        n_sched = sched.count()
    t1 = time.perf_counter()
    with tracer.span("gates.candidate_gate"):
        gate = make_candidate_gate(jobs, {})
        g = k["candidates"].withColumn("g", gate("job_id", "url", "parent_url"))
        kept = (
            g.filter(F.col("g.keep"))
            .select("job_id", F.col("g.url").alias("url"))
            .withColumn("url_hash", F.xxhash64("url"))
            .persist()
        )
        n_kept = kept.count()
    t2 = time.perf_counter()
    with tracer.span("seen.dedup"):
        fresh = filter_fresh(
            kept, k["seen"], N_BUCKETS, strategy="broadcast",
            shards=k["shards"], shards_bc=k["bc"],
        ).persist()
        n_fresh = fresh.count()
    t3 = time.perf_counter()
    with tracer.span("seen.merge"):
        fresh_keyed = with_dedup_key(fresh.select("job_id", "url_hash"), N_BUCKETS)
        dirty = [r.bucket for r in fresh_keyed.select("bucket").distinct().collect()]
        merge_bloom_shards(k["shards"], fresh_keyed, dirty_buckets=dirty).write.format(
            "noop").mode("overwrite").save()
    t4, cpu = time.perf_counter(), tree_cpu_s() - c0
    kept.unpersist()
    fresh.unpersist()
    return {
        "schedule_s": t1 - t0, "candidate_gate_s": t2 - t1, "dedup_s": t3 - t2,
        "merge_s": t4 - t3, "wall_s": t4 - t0, "cpu_s": cpu, "scheduled": n_sched, "kept": n_kept, "fresh": n_fresh,
        "fresh_ratio": n_fresh / n_kept,
    }


def check_kernel(res: dict, seed: int) -> list[tuple[str, bool]]:
    return [
        ("kernel.scheduled", res["scheduled"] == expected_scheduled(seed)),
        ("kernel.gate_kept", res["kept"] == N_CANDIDATES),
        ("kernel.fresh", res["fresh"] == expected_fresh()),
    ]


def fetch_urls(seed: int) -> list[str]:
    web = synth.WebConfig(n_hosts=N_HOSTS)
    return [
        synth.page_url(synth.host_name((i * 7 + seed) % N_HOSTS, web), (i * 31 + seed) % 50)
        for i in range(N_FETCH)
    ]


def run_fetch(spark, urls: list[str], cores: int, tracer: Tracer) -> dict:
    rows = [(u, "bench", i, "h", 0, i, 0, 0, 0, 0.0) for i, u in enumerate(urls)]
    sched = spark.createDataFrame(
        rows, "url string, job_id string, url_hash long, host string, depth int, "
              "discovery_seq long, parent_url_hash long, round_added int, attempt int, "
              "priority double",
    ).repartition(cores * 2)
    web = synth.WebConfig(n_hosts=N_HOSTS)
    with tracer.span("spans.fetch_extract"):
        t, c = time.perf_counter(), tree_cpu_s()
        row = fetch_extract(sched, web).agg(
            F.count("*").alias("docs"),
            F.sum((F.col("status_code") == 200).cast("int")).alias("ok"),
            F.sum(F.size("spans")).alias("spans"),
        ).first()
        wall, cpu = time.perf_counter() - t, tree_cpu_s() - c
    return {"wall_s": wall, "cpu_s": cpu, "docs": row.docs, "ok": row.ok}


def check_fetch(res: dict, urls: list[str]) -> list[tuple[str, bool]]:
    ok = sum(synth.page_status(u) == 200 for u in urls)
    return [("fetch.docs", res["docs"] == len(urls)), ("fetch.ok_docs", res["ok"] == ok)]


# --- query corpus -----------------------------------------------------------

_WORDS = ("the a and of to crawl frontier page link host robots delay shard bloom "
          "window budget span text media token seen fetch round snapshot").split()


def write_corpus(out_dir: str, seed: int) -> None:
    """Parquet tables with the column names and types the query catalog
    reads. Money columns are integer-valued or binary fractions, so sums are
    exact in any order and the DuckDB comparison is exact."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_li, n_ord, n_part, n_cust, n_ev, n_doc = 20_000, 5_000, 1_000, 1_000, 5_000, 400
    ts = lambda days: pa.array(  # noqa: E731
        (np.datetime64("1995-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]"))
    tables = {
        "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                   "r_name": [f"R{i}" for i in range(5)]},
        "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                   "n_name": [f"N{i}" for i in range(25)],
                   "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
        "supplier": {"s_suppkey": np.arange(50), "s_name": [f"S{i}" for i in range(50)],
                     "s_nationkey": pa.array(rng.integers(0, 25, 50, dtype=np.int32)),
                     "s_acctbal": rng.integers(0, 10_000, 50).astype(float)},
        "part": {"p_partkey": np.arange(n_part),
                 "p_name": [f"part {i % 64}" for i in range(n_part)],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                 "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO",
                                       "STANDARD"], n_part),
                 "p_size": pa.array(rng.integers(1, 50, n_part, dtype=np.int32)),
                 "p_retailprice": rng.integers(900, 2000, n_part).astype(float)},
        "customer": {"c_custkey": np.arange(n_cust),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
                     "c_acctbal": rng.integers(-999, 9999, n_cust).astype(float),
                     "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                 "HOUSEHOLD", "MACHINERY"], n_cust)},
        "orders": {"o_orderkey": np.arange(n_ord),
                   "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                   "o_totalprice": rng.integers(1_000, 500_000, n_ord).astype(float),
                   "o_orderdate": ts(rng.integers(0, 2500, n_ord)),
                   "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {"l_orderkey": rng.integers(0, n_ord, n_li),
                     "l_partkey": rng.integers(0, n_part, n_li),
                     "l_suppkey": rng.integers(0, 50, n_li),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
                     "l_quantity": rng.integers(1, 51, n_li).astype(float),
                     "l_extendedprice": rng.integers(1_000, 100_000, n_li).astype(float),
                     "l_discount": rng.choice([0.0, 0.125, 0.25], n_li),
                     "l_tax": rng.choice([0.0, 0.25, 0.5], n_li),
                     "l_returnflag": rng.choice(["A", "N", "R"], n_li),
                     "l_linestatus": rng.choice(["F", "O"], n_li),
                     "l_shipdate": ts(rng.integers(0, 2500, n_li))},
        "events": {"event_id": np.arange(n_ev),
                   "ts": pa.array((np.datetime64("2024-01-01") + np.cumsum(
                       rng.integers(1, 400, n_ev)).astype("timedelta64[s]")
                   ).astype("datetime64[us]")),
                   "user_id": rng.integers(0, 100, n_ev),
                   "event_type": rng.choice(["view", "click", "signup", "purchase", "error"],
                                            n_ev),
                   "value": rng.integers(0, 2000, n_ev) / 4.0,
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        "documents": {"doc_id": np.arange(n_doc),
                      "text": [" ".join(rng.choice(_WORDS, int(n))) for n in
                               rng.integers(5, 60, n_doc)],
                      "lang": rng.choice(["en", "de", "fr", "es", "zh"], n_doc),
                      "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
                      "n_chars": np.zeros(n_doc, dtype=np.int64)},
        "embeddings": {"vec_id": np.arange(n_doc),
                       "embedding": pa.array(list(rng.random((n_doc, 16), dtype=np.float32)),
                                             type=pa.list_(pa.float32())),
                       "label": pa.array(rng.integers(0, 8, n_doc, dtype=np.int32))},
    }
    docs = tables["documents"]
    docs["n_chars"] = np.array([len(t) for t in docs["text"]], dtype=np.int64)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def run_queries(spark, corpus: str, tracer: Tracer) -> dict[str, float]:
    out = {}
    for name in QUERY_SET:
        fn = Q.QUERIES.get(name) or Q.EXTRA_QUERIES[name]
        with tracer.span(f"query.{name}"):
            t = time.perf_counter()
            fn(spark, corpus).write.format("noop").mode("overwrite").save()
            out[name] = time.perf_counter() - t
    return out


def check_queries(spark, corpus: str) -> list[tuple[str, bool]]:
    failures = dict(Q.verify_against_duckdb(spark, corpus, names=set(QUERY_SET)))
    return [(f"query.{n}", n not in failures) for n in QUERY_SET]
