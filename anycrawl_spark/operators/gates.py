"""Scheduling + candidate gates: politeness, budget, robots, scope, paths.

Spark face of the policy in ``crawl/params.py``; each gate is a window or a
vectorized predicate (SURVEY §2.2, §4.2):

- politeness (per-host token bucket): ``row_number`` over (job_id, host)
  ordered by (depth, discovery_seq), capped at the host's tokens. New
  functionality required by north_rule (reference has none — its only
  host-level behavior is the 403 10s penalty wait, Base.ts:608-609).
- budget (job page limit): ``row_number`` over job_id ordered by
  (depth, discovery_seq), capped at limit - done (reference pre-nav abort at
  done>=limit, EngineConfigurator.ts:62-136). Applied AFTER politeness so
  host-deferred rows don't consume budget — matches the simulator.
- robots allow/deny: longest-prefix match against a per-host rule dict,
  vectorized in a pandas UDF over (host, path) (J6 — absent in reference).
- scope filter F3 (all/same-domain/same-hostname/same-origin) vs the job's
  seed scope keys (reference: Crawlee EnqueueStrategy, Base.ts:384-387).
- include/exclude path filter F1 (glob + /re/ compiled per job on the driver,
  matched vectorized; reference: Base.ts:339-379).

All job-level metadata (limits, strategies, compiled patterns) rides inside
UDF closures / literal maps — the jobs dim is tiny vs the frontier (a
broadcast join in spirit; reference analog J3).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anycrawl_spark.crawl.params import CrawlParams, robots_decision, robots_target
from anycrawl_spark.functions.patterns import (
    compile_exclude_patterns,
    compile_include_patterns,
    excludes_configured,
    url_passes,
)
from anycrawl_spark.functions.urls import (
    registrable_domain_udf,
    origin_udf,
)

_SCHED_ORDER = ["depth", "discovery_seq"]  # asc; unique per job


def tokens_expr(host_delays: dict[str, int], params: CrawlParams):
    """Per-host politeness token count as a PURE JVM expression.

    The delay table is broadcast-sized (hosts with a robots crawl-delay), so
    it rides as a literal map — keeping Python entirely out of the scheduling
    hot path (the window+filter stays inside whole-stage codegen). At larger
    delay-table sizes this becomes a broadcast join on host instead.
    """
    tokens_by_host = {
        h: params.host_tokens(d) for h, d in host_delays.items() if d and d > 0
    }
    if not tokens_by_host:
        return F.lit(params.default_host_tokens)
    mapping = F.create_map(*[F.lit(x) for kv in tokens_by_host.items() for x in kv])
    return F.coalesce(
        mapping[F.col("host")], F.lit(params.default_host_tokens)
    )


def apply_politeness(pending: DataFrame, host_delays: dict[str, int], params: CrawlParams) -> DataFrame:
    """Keep at most host_tokens rows per (job, host), lowest (depth, seq) first."""
    w = Window.partitionBy("job_id", "host").orderBy(*_SCHED_ORDER)
    return (
        pending.withColumn("_host_rank", F.row_number().over(w))
        .filter(F.col("_host_rank") <= tokens_expr(host_delays, params))
        .drop("_host_rank")
    )


def flag_schedule(
    pending: DataFrame,
    rnd: int,
    active: list[str],
    remaining: dict[str, int],
    host_tokens,
) -> DataFrame:
    """A crawl round's scheduling pass: one pass, two windows, zero
    self-joins. Every row keeps its columns and gains ``_sched``:

    - ``_eligible``: pending, backoff elapsed (``next_eligible_round <=
      rnd``) and job in ``active``;
    - politeness: rank within (job, host) by (depth, seq) <= ``host_tokens``
      (a column expression: ``tokens_expr`` or ``dim_tokens_expr``);
    - budget: rank within job over politeness-passing rows <=
      ``remaining[job]``.

    Ineligible rows sort last in the host window and non-passing rows last
    in the budget window, so passing rows get ranks 1..n exactly — the same
    greedy order as the reference simulator.

    Input partitioned by job_id (or by host, for the politeness window)
    is reused: over a job_id-partitioned input both windows share that one
    exchange. Rows are flagged, never dropped, so the budget window sorts
    every pending row of a job in one task: the largest job's pending rows
    bound the pass's largest sort, and no pre-cap on the (job, host) window
    can shrink it (docs/SCALE.md "Scheduling windows").
    """
    w_host = Window.partitionBy("job_id", "host").orderBy(
        F.col("_eligible").desc(), *_SCHED_ORDER
    )
    w_budget = Window.partitionBy("job_id").orderBy(F.col("_pass1").desc(), *_SCHED_ORDER)
    remaining_map = (
        F.create_map(*[F.lit(x) for kv in remaining.items() for x in kv])
        if remaining
        else F.create_map()
    )
    flagged = pending.withColumn(
        "_eligible",
        (F.col("status") == "pending")
        & (F.col("next_eligible_round") <= rnd)
        & F.col("job_id").isin(active),
    )
    return (
        flagged.withColumn(
            "_host_rank", F.when(F.col("_eligible"), F.row_number().over(w_host))
        )
        .withColumn("_pass1", F.col("_eligible") & (F.col("_host_rank") <= host_tokens))
        .withColumn("_budget_rank", F.row_number().over(w_budget))
        .withColumn(
            "_sched",
            F.col("_pass1")
            & (F.col("_budget_rank") <= F.coalesce(remaining_map[F.col("job_id")], F.lit(0))),
        )
    )


def apply_budget(pending: DataFrame, remaining_by_job: dict[str, int]) -> DataFrame:
    """Keep at most remaining[job] rows per job, lowest (depth, seq) first."""
    mapping = F.create_map(
        *[F.lit(x) for kv in remaining_by_job.items() for x in kv]
    ) if remaining_by_job else F.create_map()
    w = Window.partitionBy("job_id").orderBy(*_SCHED_ORDER)
    return (
        pending.withColumn("_rank", F.row_number().over(w))
        .withColumn("_remaining", mapping[F.col("job_id")])
        .filter(F.col("_rank") <= F.coalesce(F.col("_remaining"), F.lit(0)))
        .drop("_rank", "_remaining")
    )


def make_robots_filter(robots_rules_by_host: dict[str, list[tuple[str, str]]]):
    """Vectorized robots allow/deny on (host, url). Allowed when host unknown."""
    rules = {h: list(rs) for h, rs in robots_rules_by_host.items()}

    @F.pandas_udf(T.BooleanType())
    def robots_allowed(host: pd.Series, url: pd.Series) -> pd.Series:
        out = []
        for h, u in zip(host, url):
            rs = rules.get(h)
            if not rs:
                out.append(True)
                continue
            out.append(robots_decision(rs, robots_target(u)))
        return pd.Series(out)

    return robots_allowed


def make_robots_text_gate(texts_by_host: dict[str, str], agent: str):
    """Arrow gate over RAW robots.txt texts (RFC 9309, functions/robots.py).

    Texts are per-HOST config (broadcast-sized: O(hosts), not O(urls));
    they are parsed ONCE here on the driver. Per candidate the decision
    picks the cheapest kernel: wildcard-free hosts compile down to the
    engine's longest-prefix kernel (``robots_decision`` — the exact path
    the crawl engine/simulator already share), hosts with ``*``/``$``
    patterns run the full RFC longest-match wildcard matcher. Hosts with
    no robots.txt or no applicable group default to allowed.

    Returns a struct UDF: (allowed boolean, kernel string, crawl_delay
    double) over (host, url) — kernel is 'prefix'/'rfc'/'none' so callers
    (and the q_robots_gate oracle) can see which path decided.
    """
    from anycrawl_spark.functions.robots import compile_robots, robots_allowed_rfc

    compiled = compile_robots(texts_by_host, agent)
    prefix, rfc, delays = compiled["prefix"], compiled["rfc"], compiled["delays"]

    @F.pandas_udf("allowed boolean, kernel string, crawl_delay double")
    def robots_text_gate(host: pd.Series, url: pd.Series) -> pd.DataFrame:
        out = []
        for h, u in zip(host, url):
            path = robots_target(u)
            if h in prefix:
                out.append((robots_decision(prefix[h], path), "prefix", delays.get(h)))
            elif h in rfc:
                out.append((robots_allowed_rfc(rfc[h], path), "rfc", delays.get(h)))
            else:
                out.append((True, "none", delays.get(h)))
        return pd.DataFrame(out, columns=["allowed", "kernel", "crawl_delay"])

    return robots_text_gate


# --------------------------------------------------------------------- J6:
# robots rules as a host-keyed dim TABLE (the 100x shape from docs/SCALE.md
# §robots: at 10^8 hosts x ~25 rules the compiled ruleset is a few GB and no
# longer ships as a closure-captured driver dict). Below the threshold the
# closure path (make_candidate_gate) stays — one python stage, zero joins;
# past it the rules live ONLY in a Spark table co-partitioned with the
# frontier's host scheduling key. Crossover rationale: the closure dict is
# pickled into every python worker once per executor — at 200k hosts x ~25
# rules x ~40 B that is ~200 MB of per-worker resident dict + broadcast
# traffic, the same order as BROADCAST_SHARDS_MAX_BYTES in operators/seen.py.
ROBOTS_DIM_THRESHOLD_HOSTS = 200_000

ROBOTS_DIM_SCHEMA = (
    "host string, wildcard boolean, "
    "rules array<struct<rule:string,pattern:string>>, crawl_delay_ms int"
)


def robots_dim_rows(robots: list[dict]) -> list[tuple]:
    """Rule rows -> one (host, wildcard, rules, crawl_delay_ms) tuple per host.

    MUST mirror ``CrawlEngine.__init__``'s dict build exactly so the dim and
    closure paths decide identically: a host with any ``wildcard: True`` row
    routes wholesale to the RFC kernel, with its wildcard rules first and its
    plain prefix rules appended after (the precedence kernels are order-
    independent, but byte-identical inputs keep the equality test strict).
    ``crawl_delay_ms`` is the per-host max, null when absent/zero.
    """
    plain: dict[str, list] = {}
    wild: dict[str, list] = {}
    delays: dict[str, int] = {}
    for r in robots:
        target = wild if r.get("wildcard") else plain
        target.setdefault(r["host"], []).append((r["rule"], r["path_prefix"]))
        if r.get("crawl_delay_ms"):
            delays[r["host"]] = max(delays.get(r["host"], 0), r["crawl_delay_ms"])
    rows = []
    for h in sorted(set(plain) | set(wild) | set(delays)):
        if h in wild:
            rules = wild[h] + plain.get(h, [])
        else:
            rules = plain.get(h, [])
        rows.append((h, h in wild, rules, delays.get(h)))
    return rows


def robots_dim_df(spark, robots: list[dict]) -> DataFrame:
    """Build the robots dim table from rule rows (sandbox stand-in for the
    production shape: on a real cluster this is an Iceberg table maintained
    by the robots-fetch stage and read per crawl, never driver-materialized)."""
    return spark.createDataFrame(robots_dim_rows(robots), ROBOTS_DIM_SCHEMA)


def _robots_dim_decide_udf():
    """Arrow kernel over (url, wildcard, rules-array): the same dual-kernel
    dispatch as the closure gate, but the rules arrive as JOINED COLUMNS —
    nothing is captured, so executor memory is O(batch), not O(hosts)."""
    from anycrawl_spark.functions.robots import robots_allowed_rfc

    @F.pandas_udf(T.BooleanType())
    def robots_dim_allowed(
        url: pd.Series, wildcard: pd.Series, rules: pd.Series
    ) -> pd.Series:
        out = []
        for u, w, rs in zip(url, wildcard, rules):
            if rs is None or len(rs) == 0 or u is None:
                out.append(True)
                continue
            tups = [(r["rule"], r["pattern"]) for r in rs]
            t = robots_target(u)
            out.append(
                robots_allowed_rfc(tups, t) if w else robots_decision(tups, t)
            )
        return pd.Series(out)

    return robots_dim_allowed


def apply_robots_dim(
    cand: DataFrame, robots_dim: DataFrame, url_col: str = "url"
) -> DataFrame:
    """Admission-time robots gate via a host-keyed dim join (no driver dict).

    Shuffle-hash join on ``host`` with the dim as build side: the candidate
    stream exchanges once on host — the SAME key the politeness stage
    clusters on (HashPartitioning(host) satisfies the (job_id, host) window's
    ClusteredDistribution, so a downstream scheduling window reuses this
    exchange for free). Hosts without a robots row pass (left join, null
    rules => allowed). The decision kernel is one Arrow stage; rules travel
    as columns, so no executor ever holds more than its partition's hosts.
    """
    dim = robots_dim.select(
        "host",
        F.col("wildcard").alias("_r_wild"),
        F.col("rules").alias("_r_rules"),
    )
    decide = _robots_dim_decide_udf()
    return (
        cand.join(dim.hint("shuffle_hash"), "host", "left")
        .filter(decide(F.col(url_col), F.col("_r_wild"), F.col("_r_rules")))
        .drop("_r_wild", "_r_rules")
    )


def dim_tokens_expr(params: CrawlParams):
    """Politeness token count from a join-resolved ``_dim_delay`` column —
    the dim-mode replacement for ``tokens_expr``'s literal map (which is a
    driver dict of every delayed host; see ROBOTS_DIM_THRESHOLD_HOSTS).
    Pure JVM: max(1, round_window_ms // delay) for delayed hosts, else the
    default — byte-equal to ``CrawlParams.host_tokens``."""
    delay = F.col("_dim_delay")
    return F.when(
        delay.isNotNull() & (delay > 0),
        F.greatest(
            F.lit(1),
            F.floor(F.lit(params.round_window_ms) / delay).cast("int"),
        ),
    ).otherwise(F.lit(params.default_host_tokens))


def with_dim_delays(pending: DataFrame, robots_dim: DataFrame) -> DataFrame:
    """Attach ``_dim_delay`` to the scheduling input via the host-keyed dim.

    One shuffle-hash join on host; ``flag_schedule``'s (job_id, host)
    politeness window reuses its HashPartitioning(host), and only the
    budget window adds a job_id exchange."""
    delays = robots_dim.select("host", F.col("crawl_delay_ms").alias("_dim_delay")).filter(
        F.col("_dim_delay").isNotNull() & (F.col("_dim_delay") > 0)
    )
    return pending.join(delays.hint("shuffle_hash"), "host", "left")


def make_job_gate(jobs: list[dict]):
    """Vectorized per-job candidate gate: scope keys + path patterns.

    Returns (udf, needed_cols): call as udf(job_id, url, host, domain, origin).
    """
    meta = {}
    for j in jobs:
        meta[j["job_id"]] = {
            "strategy": j["strategy"],
            "include": compile_include_patterns(j.get("include_paths")),
            "exclude": compile_exclude_patterns(j.get("exclude_paths")),
            "exclude_active": excludes_configured(j.get("exclude_paths")),
            "seed_host": None,
            "seed_domain": None,
            "seed_origin": None,
        }
    # seed scope keys, computed once on the driver
    from anycrawl_spark.functions.urls import (
        canonicalize_url, url_host, url_origin, registrable_domain,
    )

    for j in jobs:
        seed = canonicalize_url(j["seed_url"])
        m = meta[j["job_id"]]
        if seed:
            m["seed_host"] = url_host(seed)
            m["seed_domain"] = registrable_domain(m["seed_host"])
            m["seed_origin"] = url_origin(seed)

    @F.pandas_udf(T.BooleanType())
    def job_gate(
        job_id: pd.Series, url: pd.Series, host: pd.Series,
        domain: pd.Series, origin: pd.Series,
    ) -> pd.Series:
        out = []
        for jid, u, h, d, o in zip(job_id, url, host, domain, origin):
            m = meta.get(jid)
            if m is None:
                out.append(False)
                continue
            s = m["strategy"]
            if s == "same-hostname":
                ok = h == m["seed_host"]
            elif s == "same-origin":
                ok = o == m["seed_origin"]
            elif s == "all":
                ok = True
            else:  # same-domain (reference default)
                ok = d == m["seed_domain"]
            if ok:
                # standalone gate has no parent-page context; the fused
                # candidate gate carries the current-URL exclude quirk
                ok = url_passes(u, m["include"], m["exclude"])
            out.append(bool(ok))
        return pd.Series(out)

    return job_gate


def make_candidate_gate(
    jobs: list[dict],
    robots_rules_by_host: dict[str, list[tuple[str, str]]],
    robots_rfc_by_host: dict[str, list[tuple[str, str]]] | None = None,
):
    """ONE fused pandas UDF for the whole candidate gate chain:
    canonicalize -> host/scope keys -> strategy filter -> path patterns ->
    robots. Three python stages collapsed into one Arrow round trip (the
    chained-UDF version costs 2 extra serialization passes over every link
    per round).

    ``robots_rfc_by_host`` carries hosts whose robots.txt uses ``*``/``$``
    wildcards (functions/robots.py) — those run the RFC 9309 longest-match
    kernel; everything else stays on the prefix fast path. Both dims are
    broadcast-sized (per-host config).

    Returns a struct column fn: (job_id, url) -> struct<url, host, keep>.

    The UDF is marked nondeterministic, Spark's guard against evaluating it
    more than once per row: filtering on ``keep`` and projecting ``url`` /
    ``host`` would otherwise push the filter below the projection and run
    the whole gate twice (once per ArrowEvalPython stage). Its output IS a
    pure function of its inputs; the flag only pins evaluation to one place.
    """
    from anycrawl_spark.crawl.params import robots_decision
    from anycrawl_spark.functions.robots import robots_allowed_rfc
    from anycrawl_spark.functions.urls import (
        canonicalize_url, registrable_domain, url_host, url_origin,
    )

    meta = {}
    for j in jobs:
        seed = canonicalize_url(j["seed_url"])
        seed_host = url_host(seed) if seed else None
        meta[j["job_id"]] = {
            "strategy": j["strategy"],
            "include": compile_include_patterns(j.get("include_paths")),
            "exclude": compile_exclude_patterns(j.get("exclude_paths")),
            "exclude_active": excludes_configured(j.get("exclude_paths")),
            "seed_host": seed_host,
            "seed_domain": registrable_domain(seed_host),
            "seed_origin": url_origin(seed) if seed else None,
        }
    robots = {h: list(rs) for h, rs in robots_rules_by_host.items()}
    robots_rfc = {h: list(rs) for h, rs in (robots_rfc_by_host or {}).items()}

    out_type = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("host", T.StringType()),
            T.StructField("keep", T.BooleanType()),
        ]
    )

    @F.pandas_udf(out_type)
    def gate(
        job_id: pd.Series, url: pd.Series, parent_url: pd.Series
    ) -> pd.DataFrame:
        from anycrawl_spark.functions.urls import canonicalize_url_host

        urls, hosts, keeps = [], [], []
        for jid, u, pu in zip(job_id, url, parent_url):
            # one urlsplit yields both the canonical form and the host —
            # urlsplit is this kernel's hottest call (profiled ~45% of gate)
            cu, h = canonicalize_url_host(u) if u is not None else (None, None)
            if cu is None:
                urls.append(None); hosts.append(None); keeps.append(False)
                continue
            m = meta.get(jid)
            if m is None:
                urls.append(cu); hosts.append(None); keeps.append(False)
                continue
            s = m["strategy"]
            if s == "same-hostname":
                ok = h == m["seed_host"]
            elif s == "same-origin":
                ok = url_origin(cu) == m["seed_origin"]
            elif s == "all":
                ok = True
            else:  # same-domain (reference default)
                ok = registrable_domain(h) == m["seed_domain"]
            if ok:
                ok = url_passes(
                    cu, m["include"], m["exclude"], current_url=pu,
                    exclude_active=m["exclude_active"],
                )
            if ok:
                rs = robots.get(h)
                if rs:
                    ok = robots_decision(rs, robots_target(cu))
                elif robots_rfc:
                    rr = robots_rfc.get(h)
                    if rr:
                        ok = robots_allowed_rfc(rr, robots_target(cu))
            urls.append(cu); hosts.append(h); keeps.append(bool(ok))
        return pd.DataFrame({"url": urls, "host": hosts, "keep": keeps})

    return gate.asNondeterministic()


def with_scope_keys(df: DataFrame) -> DataFrame:
    return df.withColumn("_domain", registrable_domain_udf(F.col("host"))).withColumn(
        "_origin", origin_udf(F.col("url"))
    )
