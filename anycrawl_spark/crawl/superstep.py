"""The crawl superstep driver: BFS rounds over snapshot tables.

Re-architecture of the reference's event-driven crawl loop (SURVEY §3.2 —
BullMQ worker + Crawlee RequestQueue + Redis counters, reference:
packages/scrape/src/Worker.ts, engines/Base.ts:314-457, managers/
Progress.ts) as deterministic Spark supersteps:

    per round r:
      pending  -> politeness window -> budget window -> (host-hash, salted)
               -> fetch (mapInPandas, simulated)  -> status classify (F7)
      ok       -> extract spans/links (mapInPandas) -> documents append
      links    -> posexplode -> canonicalize -> depth/scope/path/robots gates
               -> intra-round first-wins dedup -> bloom+anti-join vs seen
               -> discovery_seq assignment (window) -> frontier append
      retries  -> attempt+1, next_eligible_round = r + 2^attempt
      progress -> per-job aggregates -> finalize check -> snapshot commit

Scale design (explicit, per north_rule):
- The frontier snapshot holds PENDING rows only; terminal rows go to an
  append-only ``frontier_log`` (lineage). The per-round rewrite is O(pending),
  not O(all URLs ever seen) — at 10^10 URLs the pending set is the working
  set, and in Iceberg this becomes a MERGE writing only changed files.
- ``seen`` is append-only keys; dedup runs through sharded blooms
  (operators/seen.py) so the exact anti-join sees only bloom-positives.
  While the shard blobs fit ``BROADCAST_SHARDS_MAX_BYTES`` they live on the
  driver (``ShardBroadcast``): a round's fresh keys ride its summary collect
  and merge there, and the shard log and snapshots are driver writes, so
  the merge costs no Spark job. Past the cap, or before a round that may
  bring more than ``DRIVER_MERGE_MAX_KEYS`` fresh keys, the state hands off
  once to a Spark-resident DataFrame merged by cogroup
  (``merge_bloom_shards``), and the probe follows the regime: broadcast on
  the driver map, cogroup after.
- Fetch input is repartitioned by ``xxhash64(url)`` — this IS the salting:
  after the politeness window has enforced per-host caps, fetch rows are
  independent, so spreading a mega-host across partitions is free. The
  politeness window partitions by (job, host) — over the closure regime's
  job_id-repartitioned input or the dim regime's host-partitioned join —
  and the budget window by job, so a round's largest sort holds the largest
  job's pending rows; the windows are rank-then-filter (no buffering of a
  full partition in Python).
- Determinism: every ordering is an explicit sort key (depth, discovery_seq,
  link ordinal) — never partition iteration order. Same seeds => same crawl,
  byte-identical tables, which the parity + resume tests assert.
- Static round plans: a round is planned without AQE, its shuffles sized
  from the driver's row bound (``static_plan``). AQE would replan a 30-row
  round stage by stage, one Spark job per shuffle stage; the driver already
  knows how many rows the round can move (docs/SCALE.md "Static round
  plans"). Everything outside ``run_round`` keeps the session's AQE.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anycrawl_spark import synth
from anycrawl_spark.crawl.params import CrawlParams, is_retryable_col
from anycrawl_spark.operators.gates import (
    ROBOTS_DIM_THRESHOLD_HOSTS,
    apply_robots_dim,
    dim_tokens_expr,
    flag_schedule,
    make_candidate_gate,
    robots_dim_df,
    tokens_expr,
    with_dim_delays,
)
from anycrawl_spark.operators.seen import (
    BROADCAST_SHARDS_MAX_BYTES, SHARD_SCHEMA, ShardBroadcast, merge_bloom_shards,
    probe_seen, split_fresh, with_dedup_key,
)
from anycrawl_spark.operators.spans import fetch_extract
from anycrawl_spark.functions.urls import canonicalize_url, url_host
from anycrawl_spark.schemas import FRONTIER, JOBS, PROGRESS, WEBHOOK_EVENTS
from anycrawl_spark.storage import SnapshotStore, driver_rows, files_for

AQE = "spark.sql.adaptive.enabled"
SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"

# fresh keys one round may merge on the driver map: a round whose fresh-key
# bound passes it hands the shard state to the Spark merge first, which
# spreads the merge over the executors and keeps the keys off the driver
# (docs/SCALE.md "Driver-resident bloom shards" has the measurements)
DRIVER_MERGE_MAX_KEYS = 1 << 20

# rows per shuffle partition in a statically planned round (the round's rows
# are narrow: keys, a URL, a few ints): a round of a few thousand rows runs
# each shuffle as one task, and a round at volume keeps the session's count
ROUND_ROWS_PER_PARTITION = 1 << 16


def round_partitions(rows: int, session_partitions: int) -> int:
    """Shuffle partitions for a round whose exchanges read at most ``rows``
    rows each: ROUND_ROWS_PER_PARTITION rows apiece, never more than the
    session's count and at least one."""
    return max(1, min(session_partitions, -(-rows // ROUND_ROWS_PER_PARTITION)))


def _shard_rows(rows: list[tuple], rnd: int) -> pa.Table:
    """(bucket, gen, n_keys, bloom) rows stamped with their round, as the
    ``bloom_shards`` log and the ``bloom_shards_state`` snapshot hold them."""
    schema = T.StructType(
        SHARD_SCHEMA.fields + [T.StructField("round", T.IntegerType(), False)]
    )
    return driver_rows([(*r, rnd) for r in rows], schema)


@contextmanager
def static_plan(spark: SparkSession, rows: int):
    """Plan and run the body without AQE, at ``round_partitions(rows)``
    shuffle partitions. Both confs are the session's runtime SQL confs: they
    read as before once the body returns or raises, and anything the
    session plans meanwhile, on any thread, is planned the same way."""
    conf = spark.conf
    before = {k: conf.get(k) for k in (AQE, SHUFFLE_PARTITIONS)}
    try:
        conf.set(AQE, "false")
        conf.set(
            SHUFFLE_PARTITIONS,
            str(round_partitions(rows, int(before[SHUFFLE_PARTITIONS]))),
        )
        yield
    finally:
        for k, v in before.items():
            conf.set(k, v)


class CrawlEngine:
    """Frontier-round crawl over a ``SnapshotStore``.

    ``run_round`` plans statically (``static_plan``): while a round runs, the
    session's ``spark.sql.adaptive.enabled`` is false and its
    ``spark.sql.shuffle.partitions`` is the round's own count, for every
    thread of the session, the round's write pool included. Both read as
    before once the round returns or raises.
    """

    def __init__(
        self,
        spark: SparkSession,
        workdir: str,
        jobs: list[dict],
        robots: list[dict],
        params: CrawlParams | None = None,
        web: synth.WebConfig = synth.DEFAULT_WEB,
        num_buckets: int = 32,
        shard_refresh_rounds: int = 8,
        tiered_proxies: list[list[str]] | None = None,
        proxy_rules: list | None = None,
        robots_mode: str = "auto",
        robots_dim: DataFrame | None = None,
        robots_dim_threshold_hosts: int | None = None,
    ):
        self.spark = spark
        self.store = SnapshotStore(workdir, spark)
        self.jobs = jobs
        self.params = params or CrawlParams()
        self.web = web
        self.num_buckets = num_buckets
        # small driver-side policy state (broadcast-sized; jobs dim, J3).
        # Rows marked wildcard=True (from functions/robots.py
        # robots_rows_from_texts — raw robots.txt with */$ patterns) route to
        # the RFC 9309 longest-match kernel; plain rows stay on the
        # longest-prefix fast path. A host lives in exactly one dict.
        #
        # Two robots regimes (docs/SCALE.md §robots):
        #   closure — rules ride as dicts inside the fused candidate gate
        #             (zero joins; right while the ruleset broadcasts, i.e.
        #             below ROBOTS_DIM_THRESHOLD_HOSTS distinct hosts);
        #   dim     — rules live ONLY in a host-keyed Spark table
        #             (self.robots_dim), resolved by a co-partitioned
        #             shuffle-hash join at admission time and a delay join
        #             in the scheduling stage. The driver keeps rules for
        #             the O(jobs) SEED hosts only.
        # "auto" picks by distinct-host count; pass robots_dim= directly for
        # the production shape (an Iceberg robots table, never a driver list).
        if robots_mode not in ("auto", "closure", "dim"):
            raise ValueError(
                f"robots_mode must be 'auto', 'closure' or 'dim' (got {robots_mode!r})"
            )
        dim_threshold = (
            robots_dim_threshold_hosts
            if robots_dim_threshold_hosts is not None
            else ROBOTS_DIM_THRESHOLD_HOSTS
        )
        n_robots_hosts = len({r["host"] for r in robots}) if robots else 0
        use_dim = robots_dim is not None or robots_mode == "dim" or (
            robots_mode == "auto" and n_robots_hosts > dim_threshold
        )
        self.robots_by_host: dict[str, list[tuple[str, str]]] = {}
        self.robots_rfc_by_host: dict[str, list[tuple[str, str]]] = {}
        self.host_delays: dict[str, int] = {}
        self.robots_dim: DataFrame | None = None
        self._dim_rows = 0
        if use_dim:
            self.robots_dim = (
                robots_dim if robots_dim is not None else robots_dim_df(spark, robots)
            ).persist()
            # the dim joins exchange every dim row each round (round_rows)
            self._dim_rows = self.robots_dim.count()
            # driver needs rules for seed admission only — O(jobs) rows
            seed_hosts = [
                h for h in (
                    url_host(canonicalize_url(j["seed_url"]) or "") for j in jobs
                ) if h
            ]
            if seed_hosts:
                for row in self.robots_dim.filter(
                    F.col("host").isin(seed_hosts)
                ).collect():
                    rules = [(r["rule"], r["pattern"]) for r in row["rules"]]
                    if rules:
                        target = (
                            self.robots_rfc_by_host if row["wildcard"]
                            else self.robots_by_host
                        )
                        target[row["host"]] = rules
            # host_delays stays empty: scheduling tokens come from the dim
            # join (with_dim_delays + dim_tokens_expr), never a driver map
        else:
            for r in robots:
                target = (
                    self.robots_rfc_by_host if r.get("wildcard") else self.robots_by_host
                )
                target.setdefault(r["host"], []).append((r["rule"], r["path_prefix"]))
                if r.get("crawl_delay_ms"):
                    self.host_delays[r["host"]] = max(
                        self.host_delays.get(r["host"], 0), r["crawl_delay_ms"]
                    )
            for h in list(self.robots_rfc_by_host):
                # mixed host: precedence spans the whole ruleset, so the RFC
                # kernel (a superset of prefix matching on literal patterns)
                # takes all of it
                if h in self.robots_by_host:
                    self.robots_rfc_by_host[h] += self.robots_by_host.pop(h)
        self._candidate_gate = make_candidate_gate(
            jobs,
            {} if use_dim else self.robots_by_host,
            {} if use_dim else self.robots_rfc_by_host,
        )
        # F2 shouldScrapeUrl (Base.ts:465-495,992-1002): pages always crawl
        # and expand links, but only scrape_paths-matching pages persist a
        # document. Jobs without scrape_paths save everything (the common
        # case — the filter stage is skipped entirely then).
        self._scrape_paths_by_job = {
            j["job_id"]: list(j["scrape_paths"])
            for j in jobs
            if j.get("scrape_paths")
        }
        # the current-URL exclude quirk needs the parent URL in the gate;
        # without any excludes the column is a pruned-away constant (the
        # frontier hot path ships no extra Arrow data). Raw-array check:
        # exclude_paths=['  '] still triggers the quirk (Base.ts:361)
        from anycrawl_spark.functions.patterns import excludes_configured

        self._gate_needs_parent = any(
            excludes_configured(j.get("exclude_paths")) for j in jobs
        )
        self._scrape_gate = None
        if self._scrape_paths_by_job:
            scrape_map = self._scrape_paths_by_job

            @F.pandas_udf(T.BooleanType())
            def _scrape_gate(job_id: pd.Series, url: pd.Series) -> pd.Series:
                from anycrawl_spark.functions.patterns import should_scrape_url

                return pd.Series(
                    [
                        should_scrape_url(u, scrape_map.get(jid))
                        for jid, u in zip(job_id, url)
                    ]
                )

            self._scrape_gate = _scrape_gate
        self.max_depth_by_job = {j["job_id"]: j["max_depth"] for j in jobs}
        self.limit_by_job = {j["job_id"]: j["limit"] for j in jobs}
        # mutable per-job counters (recovered from progress on resume)
        self.done: dict[str, int] = {}
        self.enqueued: dict[str, int] = {}
        self.succeeded: dict[str, int] = {}
        self.failed: dict[str, int] = {}
        self.next_seq: dict[str, int] = {}
        self.pending: dict[str, int] = {}   # frontier pending-row count per job
        self.finalized: set[str] = set()
        self.round_stats: list[dict] = []
        # Incremental bloom-shard state, in one of two regimes (per-round
        # cost is O(fresh keys + dirtied blobs) in both, never O(|seen|)):
        #   broadcast — while its blobs fit BROADCAST_SHARDS_MAX_BYTES the
        #               driver map (_shard_bc) IS the state: fresh keys merge
        #               on the driver and the probe reads its broadcast;
        #   spark     — past the cap or the driver merge's key bound, for
        #               good: a localCheckpointed DataFrame
        #               (_shards) merged by merge_bloom_shards, probed by
        #               cogroup.
        # Both log each round's updated generations to bloom_shards and
        # snapshot the full state every shard_refresh_rounds (resume replays
        # snapshot + later log).
        self._shards = None
        self.shard_refresh_rounds = shard_refresh_rounds
        self._shard_bc = ShardBroadcast(spark)
        # S3/F12 retry ladder: attempt-indexed proxy tier stepping
        self.tiered_proxies = tiered_proxies or []
        self.proxy_rules = proxy_rules or []

    # ------------------------------------------------------------------ init

    def init_state(self) -> None:
        """Seed the frontier/seen tables (round -1 commit)."""
        rows = []
        seen_rows = []
        for j in self.jobs:
            jid = j["job_id"]
            self.done[jid] = 0
            self.succeeded[jid] = 0
            self.failed[jid] = 0
            seed = canonicalize_url(j["seed_url"])
            ok = seed is not None and self._robots_ok_driver(seed)
            if ok:
                rows.append(
                    (jid, seed, None, url_host(seed), 0, 0, None, 0,
                     "pending", 0, 0, 0.0)
                )
                seen_rows.append((jid, seed))
                self.enqueued[jid] = 1
                self.next_seq[jid] = 1
                self.pending[jid] = 1
            else:
                self.enqueued[jid] = 0
                self.next_seq[jid] = 0
                self.pending[jid] = 0
                self.finalized.add(jid)
        # driver-built tables are written at files_for(rows) files, not one
        # per createDataFrame slice
        frontier = self.spark.createDataFrame(rows, FRONTIER)
        # url_hash is always assigned JVM-side for consistency
        frontier = frontier.withColumn("url_hash", F.xxhash64("url"))
        self.store.write("frontier", frontier.coalesce(files_for(len(rows))))
        seen = self.spark.createDataFrame(seen_rows, "job_id string, url string")
        seen = seen.select(
            "job_id", F.xxhash64("url").alias("url_hash"), F.lit(-1).alias("first_round")
        )
        self.store.append("seen", seen.coalesce(files_for(len(seen_rows))), round_no=-1)
        # the seed keys merge on the driver, as every round's fresh keys do
        seed_keys = with_dedup_key(seen, self.num_buckets).select("dedup_hash")
        self._merge_on_driver(seed_keys.toArrow()["dedup_hash"].to_numpy(), -1)
        jobs_df = self.spark.createDataFrame(
            [tuple(j[f.name] for f in JOBS.fields) for j in self.jobs], JOBS
        )
        self.store.write("jobs", jobs_df.coalesce(files_for(len(self.jobs))))
        self.store.append(
            "webhook_events",
            driver_rows(
                [(j["job_id"], "crawl.started", -1) for j in self.jobs], WEBHOOK_EVENTS
            ),
            round_no=-1,
        )
        # round -1 progress baseline so resume() recovers init-time state
        self.store.append(
            "progress",
            driver_rows(
                [
                    (j["job_id"], -1, self.enqueued[j["job_id"]], 0, 0, 0,
                     j["job_id"] in self.finalized, self.next_seq[j["job_id"]])
                    for j in self.jobs
                ],
                PROGRESS,
            ),
            round_no=-1,
        )
        self.store.commit_round(-1)

    def _robots_ok_driver(self, url: str) -> bool:
        from anycrawl_spark.crawl.params import robots_decision, robots_target

        host = url_host(url)
        rules = self.robots_by_host.get(host)
        if rules:
            return robots_decision(rules, robots_target(url))
        rfc = self.robots_rfc_by_host.get(host)
        if rfc:
            from anycrawl_spark.functions.robots import robots_allowed_rfc

            return robots_allowed_rfc(rfc, robots_target(url))
        return True

    # ----------------------------------------------------- shard maintenance

    def _merge_on_driver(self, dedup_hash: np.ndarray, rnd: int) -> None:
        """Broadcast regime: merge the round's fresh keys into the driver map
        (re-broadcast), append the updated generations to ``bloom_shards``
        and, every ``shard_refresh_rounds``, snapshot the whole map — all
        driver writes, no Spark job."""
        updated = self._shard_bc.merge(dedup_hash, self.num_buckets)
        self.store.append("bloom_shards", _shard_rows(updated, rnd), round_no=rnd)
        if (rnd + 1) % self.shard_refresh_rounds == 0:
            self.store.write(
                "bloom_shards_state", _shard_rows(self._shard_bc.rows(), rnd)
            )

    def _hand_off_past_bounds(self) -> None:
        """Before a round: once the driver map's blobs pass the broadcast
        cap, or the round may bring more fresh keys than one driver merge
        takes (``DRIVER_MERGE_MAX_KEYS``), the state moves to Spark for good.
        The committed state loads as ``resume`` loads it, and the rounds
        from this one on probe by cogroup and merge with
        ``merge_bloom_shards``."""
        if self._shard_bc is None or (
            self._shard_bc.nbytes <= BROADCAST_SHARDS_MAX_BYTES
            and self.round_fresh_bound() <= DRIVER_MERGE_MAX_KEYS
        ):
            return
        self._shard_bc.close()
        self._shard_bc = None
        self._shards = self._load_shard_state().persist()

    def _commit_shard_delta(self, merged, rnd: int, n_dirty: int) -> None:
        """Spark regime: swap in the round's new shard state; persist ONLY
        dirty generations.

        ``merged`` is MERGED_SHARD_SCHEMA rows (full state + updated flag).
        The append log gets just the updated rows (the Iceberg-MERGE analog:
        per-round write cost is O(dirtied blobs), not O(all shards)); the
        in-memory state is the cached full DataFrame. Every
        ``shard_refresh_rounds`` the full state is rewritten as a snapshot,
        which bounds resume's replay.
        """
        # localCheckpoint truncates lineage to a leaf plan: the merge
        # references the previous state TWICE (dirty cogroup + clean
        # pass-through), so without truncation the logical plan DOUBLES per
        # round and Catalyst analysis goes exponential (measured: 2 s -> 220 s
        # per round by round 6). Eager checkpoint = one materializing job;
        # every later use (probe, next merge, the delta append) reads
        # executor-local blocks. Production (Iceberg) reads the shard table
        # fresh per round, which is the same leaf-plan property.
        new_state = merged.localCheckpoint(eager=True)
        if self._shards is not None and self._shards.is_cached:
            # the state resume() or the hand-off loaded and persisted: nothing
            # reads it once the first merge after the load is checkpointed
            self._shards.unpersist()
        # the merge updates one generation per dirty bucket
        self.store.append(
            "bloom_shards",
            new_state.filter(F.col("updated")).select(
                "bucket", "gen", "n_keys", "bloom", F.lit(rnd).alias("round")
            ).coalesce(files_for(n_dirty)),
            round_no=rnd,
        )
        if (rnd + 1) % self.shard_refresh_rounds == 0:
            # a few generations per bucket: far below one file's rows
            self.store.write(
                "bloom_shards_state",
                new_state.select(
                    "bucket", "gen", "n_keys", "bloom", F.lit(rnd).alias("round")
                ).coalesce(files_for(self.num_buckets)),
            )
        self._shards = new_state.select("bucket", "gen", "n_keys", "bloom")

    def _load_shard_state(self) -> DataFrame:
        """The committed shard state: last full snapshot + replay of the
        per-round deltas logged after it (last-writer-wins per bucket/gen).
        Unpersisted; every store has a log from ``init_state`` on."""
        cols = ["bucket", "gen", "n_keys", "bloom", "round"]
        log = self.store.read_appends("bloom_shards").select(*cols)
        try:
            snap = self.store.read("bloom_shards_state").select(*cols)
        except KeyError:
            allrows = log
        else:
            state_round = snap.select(F.max("round")).first()[0]
            allrows = snap.unionByName(log.filter(F.col("round") > state_round))
        w = Window.partitionBy("bucket", "gen").orderBy(F.col("round").desc())
        return (
            allrows.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("bucket", "gen", "n_keys", "bloom")
        )

    # ---------------------------------------------------------------- resume

    def resume(self) -> int:
        """Recover driver counters from the last committed round; return the
        next round number to run (north_rule: resumable from snapshots)."""
        self.store.rollback_to_committed()
        last = self.store.last_round
        prog = self.store.read_appends("progress")
        for j in self.jobs:
            jid = j["job_id"]
            self.done[jid] = 0
            self.enqueued[jid] = 0
            self.succeeded[jid] = 0
            self.failed[jid] = 0
            self.next_seq[jid] = 0
            self.pending[jid] = 0
        if prog is not None:
            w = Window.partitionBy("job_id").orderBy(F.col("round").desc())
            latest = (
                prog.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .collect()
            )
            for r in latest:
                self.done[r.job_id] = r.done
                self.enqueued[r.job_id] = r.enqueued
                self.succeeded[r.job_id] = r.succeeded
                self.failed[r.job_id] = r.failed
                self.next_seq[r.job_id] = r.next_seq
                if r.finalized:
                    self.finalized.add(r.job_id)
        # pending counts recovered from the frontier snapshot itself
        for r in (
            self.store.read("frontier").groupBy("job_id").count().collect()
        ):
            self.pending[r.job_id] = r["count"]
        # the regime follows the bytes of the committed state, the quantity
        # the uninterrupted engine's next round checks first (the round's
        # key bound is checked when it runs)
        if self._shard_bc is not None:
            self._shard_bc.close()
        # persisted first, so the byte count and the collect (or the first
        # merge) read the snapshot + log window once
        state = self._load_shard_state().persist()
        nbytes = state.agg(F.sum(F.length("bloom"))).first()[0] or 0
        if nbytes <= BROADCAST_SHARDS_MAX_BYTES:
            self._shards = None
            self._shard_bc = ShardBroadcast(self.spark)
            self._shard_bc.apply_delta(
                (r.bucket, r.gen, r.n_keys, bytes(r.bloom)) for r in state.collect()
            )
            state.unpersist()
        else:
            self._shard_bc = None
            self._shards = state
        return last + 1

    # ------------------------------------------------------------------ run

    def run(self, max_rounds: int | None = None) -> None:
        start = self.store.last_round + 1
        limit_rounds = max_rounds if max_rounds is not None else self.params.max_rounds
        for r in range(start, start + limit_rounds):
            if len(self.finalized) == len(self.jobs):
                break
            self.run_round(r)

    def round_rows(self) -> int:
        """Bound on the rows any one exchange of the next round reads: the
        live jobs' pending rows (scheduling windows), the hrefs their pages
        can yield (candidate dedup window), every seen key (the exact
        anti-join's build side) and, in the dim regime, every dim host."""
        pending = sum(n for j, n in self.pending.items() if j not in self.finalized)
        return (
            pending * synth.MAX_PAGE_HREFS + sum(self.enqueued.values())
            + self._dim_rows
        )

    def round_fresh_bound(self) -> int:
        """Bound on the fresh keys the next round can bring: every href of
        every page it can fetch, which for a live job is at most its pending
        rows and at most its remaining budget."""
        return synth.MAX_PAGE_HREFS * sum(
            min(n, self.limit_by_job[j] - self.done.get(j, 0))
            for j, n in self.pending.items() if j not in self.finalized
        )

    def run_round(self, rnd: int) -> dict:
        self._hand_off_past_bounds()
        with static_plan(self.spark, self.round_rows()):
            return self._run_round(rnd)

    def _run_round(self, rnd: int) -> dict:
        frontier = self.store.read("frontier")  # pending rows only
        active = [j["job_id"] for j in self.jobs if j["job_id"] not in self.finalized]
        remaining = {
            jid: max(0, self.limit_by_job[jid] - self.done.get(jid, 0)) for jid in active
        }
        # Flag-based scheduling (gates.flag_schedule): politeness then budget
        # windows mark ``_sched``; deferred rows stay pending unchanged.
        t0 = time.perf_counter()
        if self.robots_dim is not None:
            # dim regime: crawl-delays resolve via the host-keyed dim join,
            # whose HashPartitioning(host) the politeness window reuses.
            sched_input = with_dim_delays(frontier, self.robots_dim)
            host_tokens = dim_tokens_expr(self.params)
        else:
            # closure regime: one job_id exchange serves both windows
            sched_input = frontier.repartition("job_id")
            host_tokens = tokens_expr(self.host_delays, self.params)
        flagged = flag_schedule(sched_input, rnd, active, remaining, host_tokens).persist()
        frontier_cols = [f.name for f in FRONTIER.fields]
        sched = flagged.filter(F.col("_sched")).select(*frontier_cols)
        # deferred + eligible-but-capped rows stay pending unchanged
        not_sched = flagged.filter(~F.col("_sched")).select(*frontier_cols)

        # --- fetch+extract: one fused python stage (no raw HTML through
        # Arrow, one worker per task chain); salt/spread by url hash
        # (politeness already enforced by the windows above) over the round's
        # own shuffle partitions (static_plan sizes them) --------------------
        n_fetch = int(self.spark.conf.get(SHUFFLE_PARTITIONS))
        sched = sched.repartition(n_fetch, F.pmod(F.col("url_hash"), F.lit(n_fetch)))
        if self.tiered_proxies:
            # retry ladder: attempt-indexed tier stepping + rule short-circuit
            # (columns only; the synthetic fetch ignores them, the proxy log
            # below is the observable surface)
            from anycrawl_spark.operators.rules import with_proxy_tier

            assigned = with_proxy_tier(sched, self.tiered_proxies, self.proxy_rules)
            self.store.append(
                "proxy_log",
                assigned.select(
                    "job_id", "url_hash", "attempt", "proxy_tier", "proxy_url",
                    F.lit(rnd).alias("round"),
                ),
                round_no=rnd,
            )
        fetched = fetch_extract(sched, self.web).persist()

        ok = fetched.filter(F.col("status_code") == 200)
        retry = is_retryable_col(F.col("status_code")) & (
            F.col("attempt") + 1 < self.params.max_attempts
        )
        retryable = fetched.filter(retry)
        dead = fetched.filter((F.col("status_code") != 200) & ~retry)

        docs = ok  # extraction already ran in the fused stage

        # --- documents + metrics appends -----------------------------------
        docs_saved = docs
        if self._scrape_gate is not None:
            docs_saved = docs.filter(
                self._scrape_gate(F.col("job_id"), F.col("url"))
            )
        self.store.append(
            "documents",
            docs_saved.select(
                "job_id",
                F.concat(F.lit("doc_"), F.conv(F.abs(F.col("url_hash")).cast("string"), 10, 16)).alias("doc_id"),
                "url", "url_hash", "host", "depth",
                F.lit(rnd).alias("round"),
                "status_code", "title", "markdown", "spans",
                F.size("links").alias("n_links"),
            ),
            round_no=rnd,
        )
        metrics_df = fetched.select(
            "job_id", F.lit(rnd).alias("round"), "url_hash", "host",
            "status_code", "latency_ms", "size_bytes",
        )

        # --- link expansion -> candidates ----------------------------------
        seen = self.store.read_appends("seen")
        links = docs.select(
            "job_id",
            F.col("depth").alias("parent_depth"),
            F.col("discovery_seq").alias("parent_seq"),
            F.col("url_hash").alias("parent_url_hash"),
            F.col("url").alias("parent_url"),
            F.posexplode("links").alias("ordinal", "url"),
        )
        max_depth_map = F.create_map(
            *[F.lit(x) for kv in self.max_depth_by_job.items() for x in kv]
        )
        # one fused python stage: canonicalize + scope + paths + robots
        cand = (
            links.withColumn("depth", F.col("parent_depth") + 1)
            .filter(F.col("depth") <= max_depth_map[F.col("job_id")])
            .withColumn(
                "_g",
                self._candidate_gate(
                    F.col("job_id"),
                    F.col("url"),
                    F.col("parent_url") if self._gate_needs_parent
                    else F.lit(None).cast("string"),
                ),
            )
            .filter(F.col("_g.keep"))
            .withColumn("url", F.col("_g.url"))
            .withColumn("host", F.col("_g.host"))
            .drop("_g", "parent_url")
            .withColumn("url_hash", F.xxhash64("url"))
        )

        # intra-round first-wins dedup: min (parent_depth, parent_seq, ordinal)
        w_first = Window.partitionBy("job_id", "url_hash").orderBy(
            "parent_depth", "parent_seq", "ordinal"
        )
        cand = cand.withColumn("_rn", F.row_number().over(w_first)).filter(
            F.col("_rn") == 1
        ).drop("_rn")

        # the probed candidates are cached: split_fresh reads them once per
        # bloom verdict, and without the cache each branch would re-run the
        # link expansion, the candidate gate and the probe. The shard regime
        # alone picks the probe: the driver map's live broadcast while there
        # is one, else the cogroup over the Spark-resident state.
        driver_shards = self._shard_bc is not None
        probed = probe_seen(
            cand, seen, self.num_buckets,
            strategy="broadcast" if driver_shards else "cogroup",
            shards=self._shards,
            shards_bc=self._shard_bc.bc if driver_shards else None,
        ).persist()
        fresh = split_fresh(probed, seen)

        if self.robots_dim is not None:
            # dim regime: admission-time robots decision as a co-partitioned
            # host join over the POST-dedup POST-seen fresh set (the minimal
            # row volume — the closure path decides pre-dedup inside the
            # fused gate, but robots is a pure function of the URL, so
            # filtering the deduped fresh stream admits the identical set).
            fresh = apply_robots_dim(fresh, self.robots_dim)

        # --- discovery_seq assignment (deterministic BFS ordinal) ----------
        base_seq_map = F.create_map(
            *[F.lit(x) for kv in self.next_seq.items() for x in kv]
        )
        w_seq = Window.partitionBy("job_id").orderBy(
            "parent_depth", "parent_seq", "ordinal"
        )
        fresh = fresh.withColumn(
            "discovery_seq",
            F.row_number().over(w_seq) - 1 + base_seq_map[F.col("job_id")],
        ).persist()

        fresh_frontier = fresh.select(
            "job_id", "url", "url_hash", "host", "depth", "discovery_seq",
            "parent_url_hash",
            F.lit(rnd).alias("round_added"),
            F.lit("pending").alias("status"),
            F.lit(0).alias("attempt"),
            F.lit(0).alias("next_eligible_round"),
            F.lit(0.0).alias("priority"),
        )

        retry_rows = retryable.select(
            "job_id", "url", "url_hash", "host", "depth", "discovery_seq",
            "parent_url_hash", "round_added",
            F.lit("pending").alias("status"),
            (F.col("attempt") + 1).alias("attempt"),
            (F.lit(rnd) + F.pow(F.lit(2), F.col("attempt") + 1).cast("int")).alias(
                "next_eligible_round"
            ),
            "priority",
        )

        next_frontier = (
            not_sched
            .unionByName(retry_rows.select(*frontier_cols))
            .unionByName(fresh_frontier.select(*frontier_cols))
        ).persist()

        # --- terminal log + seen append ------------------------------------
        # (fused fetch output doesn't carry next_eligible_round; terminal
        # rows are never rescheduled so it is constant 0 in the log)
        term_cols = [c for c in frontier_cols if c not in ("status", "next_eligible_round")]
        terminal = ok.select(
            *term_cols,
            F.lit(0).alias("next_eligible_round"),
            F.lit("fetched").alias("status"),
        ).unionByName(
            dead.select(
                *term_cols,
                F.lit(0).alias("next_eligible_round"),
                F.lit("failed").alias("status"),
            )
        ).select(*frontier_cols)

        # --- per-job aggregates -> driver counters (ONE collect action) ----
        fetch_summary = (
            fetched.withColumn(
                "k",
                F.when(F.col("status_code") == 200, "ok")
                .when(retry, "retry")
                .otherwise("dead"),
            )
            .groupBy("job_id", "k")
            .agg(F.count("*").alias("c"))
        )
        fresh_summary = fresh.groupBy("job_id").agg(F.count("*").alias("c")).select(
            "job_id", F.lit("fresh").alias("k"), "c"
        )
        # the shard merge's input rides the same collect instead of a second
        # scan of the cached fresh set: every fresh key for the driver merge,
        # the dirty buckets (<= num_buckets rows) for the Spark merge
        fresh_keyed = with_dedup_key(
            fresh.select("job_id", "url_hash"), self.num_buckets
        )
        shard_summary = fresh_keyed.select(
            F.lit(None).cast("string").alias("job_id"),
            F.lit("key" if driver_shards else "dirty").alias("k"),
            F.col("dedup_hash" if driver_shards else "bucket").cast("long").alias("c"),
        )
        if not driver_shards:
            shard_summary = shard_summary.distinct()
        # Overlap the independent per-round actions: metrics + terminal-log
        # appends run while the summary collect materializes the fresh chain
        # (fetched is already cached by the documents append above; each
        # append targets a distinct table — see SnapshotStore locking). The
        # round schedules at most sum(remaining) rows, which sizes their files.
        fetched_files = files_for(sum(remaining.values()))
        with ThreadPoolExecutor(max_workers=3) as pool:
            f_metrics = pool.submit(
                self.store.append, "metrics", metrics_df.coalesce(fetched_files), rnd
            )
            f_log = pool.submit(
                self.store.append, "frontier_log",
                terminal.select(*frontier_cols).coalesce(fetched_files), rnd,
            )
            summary = (
                fetch_summary.unionByName(fresh_summary).unionByName(shard_summary)
                .toArrow()
            )
            f_metrics.result()
            f_log.result()

        is_key = pc.equal(summary["k"], "key")
        fresh_keys = summary.filter(is_key)["c"].to_numpy()
        agg: dict = {}
        fresh_counts: dict = {}
        dirty: list[int] = []
        for r_ in summary.filter(pc.invert(is_key)).to_pylist():
            if r_["k"] == "fresh":
                fresh_counts[r_["job_id"]] = r_["c"]
            elif r_["k"] == "dirty":
                dirty.append(r_["c"])
            else:
                agg[(r_["job_id"], r_["k"])] = r_["c"]

        progress_rows = []
        event_rows = []   # S11 webhook side table (reference: WebhookEvents.ts:6-36)
        sched_total = 0
        for jid in active:
            n_ok = agg.get((jid, "ok"), 0)
            n_dead = agg.get((jid, "dead"), 0)
            n_retry = agg.get((jid, "retry"), 0)
            sched_total += n_ok + n_dead + n_retry
            n_fresh = fresh_counts.get(jid, 0)
            self.done[jid] += n_ok + n_dead
            self.succeeded[jid] += n_ok
            self.failed[jid] += n_dead
            self.enqueued[jid] += n_fresh
            self.next_seq[jid] += n_fresh
            # pending' = pending - terminal(ok+dead) + fresh  (retries stay)
            self.pending[jid] = self.pending.get(jid, 0) - n_ok - n_dead + n_fresh
            if self.done[jid] >= self.limit_by_job[jid] or self.pending[jid] == 0:
                self.finalized.add(jid)
                event_rows.append(
                    (jid, "crawl.completed" if self.failed[jid] < self.done[jid]
                     else "crawl.failed", rnd)
                )
            progress_rows.append(
                (jid, rnd, self.enqueued[jid], self.done[jid], self.succeeded[jid],
                 self.failed[jid], jid in self.finalized, self.next_seq[jid])
            )

        # finalized jobs' leftover pending rows become 'skipped' in the log
        nf_cached = next_frontier
        leftovers = None
        # pending counts of live vs finalized jobs size the frontier and
        # leftover files (an upper bound for jobs finalized in earlier rounds,
        # whose rows already left the frontier)
        n_live = sum(n for j, n in self.pending.items() if j not in self.finalized)
        if self.finalized:
            n_left = sum(self.pending.get(j, 0) for j in self.finalized)
            leftovers = next_frontier.filter(
                F.col("job_id").isin(list(self.finalized))
            ).coalesce(files_for(n_left))
            next_frontier = next_frontier.filter(
                ~F.col("job_id").isin(list(self.finalized))
            )

        # final writes: independent tables in parallel (fresh/next_frontier
        # read only cached data: fresh from the summary collect, the frontier
        # from the flagged/fetched/fresh caches). The shard merge rides the
        # same pool — the driver merge reads only the collected keys, the
        # Spark merge only the cached fresh set and the previous shard state —
        # and SnapshotStore.append reserves slots under its lock.
        with ThreadPoolExecutor(max_workers=4) as pool:
            if driver_shards:
                f_shards = pool.submit(self._merge_on_driver, fresh_keys, rnd)
            else:
                f_shards = pool.submit(
                    self._commit_shard_delta,
                    merge_bloom_shards(self._shards, fresh_keyed, dirty_buckets=dirty),
                    rnd,
                    len(dirty),
                )
            futures = [
                pool.submit(
                    self.store.append,
                    "seen",
                    fresh.select(
                        "job_id", "url_hash", F.lit(rnd).alias("first_round")
                    ).coalesce(files_for(sum(fresh_counts.values()))),
                    rnd,
                ),
                pool.submit(
                    self.store.write, "frontier",
                    next_frontier.coalesce(files_for(n_live)),
                ),
                pool.submit(
                    self.store.append,
                    "progress",
                    driver_rows(progress_rows, PROGRESS),
                    rnd,
                ),
            ]
            if leftovers is not None:
                futures.append(
                    pool.submit(
                        self.store.append,
                        "frontier_log",
                        leftovers.withColumn("status", F.lit("skipped")).select(*frontier_cols),
                        rnd,
                    )
                )
            if event_rows:
                futures.append(
                    pool.submit(
                        self.store.append,
                        "webhook_events",
                        driver_rows(event_rows, WEBHOOK_EVENTS),
                        rnd,
                    )
                )
            for f in futures:
                f.result()
            f_shards.result()
        t_final = time.perf_counter()
        self.store.commit_round(rnd)
        stats = {
            "round": rnd,
            "scheduled": sched_total,
            "fresh": sum(fresh_counts.values()),
            "active_jobs": len(active),
            # per-round wall: the soak-flatness evidence (round cost must not
            # grow with lifetime |seen|/frontier size)
            "wall_sec": round(t_final - t0, 2),
        }
        self.round_stats.append(stats)
        flagged.unpersist()
        fetched.unpersist()
        docs.unpersist()
        probed.unpersist()
        fresh.unpersist()
        nf_cached.unpersist()
        return stats

    # -------------------------------------------------------------- outputs

    def seen_sets(self) -> dict[str, set]:
        """job_id -> set of canonical urls ever admitted (for parity tests)."""
        log = self.store.read_appends("frontier_log")
        frontier = self.store.read("frontier")
        dfs = [frontier.select("job_id", "url")]
        if log is not None:
            dfs.append(log.select("job_id", "url"))
        allrows = dfs[0]
        for d in dfs[1:]:
            allrows = allrows.unionByName(d)
        out: dict[str, set] = {j["job_id"]: set() for j in self.jobs}
        for r in allrows.distinct().collect():
            out[r.job_id].add(r.url)
        return out

    def discovery(self) -> dict[str, dict]:
        """job_id -> {url: (depth, discovery_seq)}."""
        log = self.store.read_appends("frontier_log")
        frontier = self.store.read("frontier")
        allrows = frontier.select("job_id", "url", "depth", "discovery_seq")
        if log is not None:
            allrows = allrows.unionByName(
                log.select("job_id", "url", "depth", "discovery_seq")
            )
        out: dict[str, dict] = {j["job_id"]: {} for j in self.jobs}
        for r in allrows.distinct().collect():
            out[r.job_id][r.url] = (r.depth, r.discovery_seq)
        return out

    def terminal_status(self) -> dict[str, dict]:
        log = self.store.read_appends("frontier_log")
        out: dict[str, dict] = {j["job_id"]: {} for j in self.jobs}
        if log is None:
            return out
        for r in log.filter(F.col("status").isin("fetched", "failed")).collect():
            out[r.job_id][r.url] = r.status
        return out
