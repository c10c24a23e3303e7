"""Named operator queries + DuckDB oracle SQL (the driver correctness gate).

Each entry maps one operator from SURVEY §2 onto the driver-provided tables
(`region nation customer supplier part orders lineitem events documents
embeddings`) so DuckDB can verify the Spark result (row count + schema +
order-insensitive value hash). Column names are aliased identically on both
sides; floats are rounded on both sides to dodge ULP drift between engines.

Non-SQL-expressible ops (SERP parse, simhash over xxhash64, LSH ANN, the
crawl round itself) are exported without an oracle => driver records the
weaker rows-only check; their real correctness lives in tests/.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from anycrawl_spark.functions import text as TX


_DIST_SESSIONS: set[int] = set()


def ensure_dist(spark: SparkSession) -> None:
    """Ship the package to python workers via addPyFile.

    ``session.get_spark`` already puts the package on the workers'
    PYTHONPATH; a session built elsewhere (spark-submit, a real cluster)
    needs it shipped explicitly. Safe to call repeatedly.
    """
    key = id(spark.sparkContext)
    if key in _DIST_SESSIONS:
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    # fresh zip per process (a cached /tmp zip could ship stale code)
    zip_path = os.path.join(
        tempfile.mkdtemp(prefix="anycrawl_dist_"), "anycrawl_spark.zip"
    )
    with zipfile.ZipFile(zip_path, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith((".py", ".csv", ".dat")):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:  # noqa: BLE001 — already added or connect-mode session
        pass
    _DIST_SESSIONS.add(key)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_dist(spark)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# TPC-H-ish queries exercising the crawl engine's relational operator set
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """Flagship scan+agg (SURVEY §2.5): grouped sums with column math —
    the shape of the per-round progress/credits aggregation (A1-A5)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2)      AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       count(*)                       AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_status_classify(spark, sf_dir):
    """F7 HTTP-status classifier shape (Base.ts:60-113): CASE buckets + agg."""
    ev = _t(spark, sf_dir, "events")
    cls = (
        F.when(F.col("value") < 10, "low")
        .when(F.col("value") < 100, "mid")
        .otherwise("high")
    )
    return (
        ev.withColumn("value_class", cls)
        .groupBy("event_type", "value_class")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )


SQL_STATUS_CLASSIFY = """
SELECT event_type,
       CASE WHEN value < 10 THEN 'low' WHEN value < 100 THEN 'mid' ELSE 'high' END AS value_class,
       count(*) AS n, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2
"""


def q_progress_counters(spark, sf_dir):
    """A1-A3 progress counters: done/succeeded/failed per job analog."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count("*").alias("done"),
        F.sum(F.when(F.col("o_totalprice") > 100000, 1).otherwise(0)).alias("succeeded"),
        F.sum(F.when(F.col("o_totalprice") <= 100000, 1).otherwise(0)).alias("failed"),
    )


SQL_PROGRESS_COUNTERS = """
SELECT o_orderstatus,
       count(*) AS done,
       CAST(sum(CASE WHEN o_totalprice > 100000 THEN 1 ELSE 0 END) AS BIGINT) AS succeeded,
       CAST(sum(CASE WHEN o_totalprice <= 100000 THEN 1 ELSE 0 END) AS BIGINT) AS failed
FROM orders GROUP BY 1
"""


def q_anti_join_seen(spark, sf_dir):
    """J1 URL-seen dedup shape: left_anti against the "seen" subset (orders
    with status 'F' stand in for already-crawled URLs), so both the survivor
    and the filtered paths are exercised with non-empty row sets. (Earlier
    rounds anti-joined against ALL orders, which returned 0 rows at every SF
    — a vacuous value check; r4 tightened it per VERDICT r3.)"""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        c.join(o.select("o_custkey"), c.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


SQL_ANTI_JOIN_SEEN = """
SELECT c_custkey, c_name, c_mktsegment FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
"""


def q_cuckoo_dedup(spark, sf_dir):
    """J1, cuckoo variant (north_rule "bloom/cuckoo"): build shards from an
    initial seen set, MERGE one round of inserts + expiry DELETES (the
    capability bloom lacks — models the reference's expiry re-queue making
    URLs crawlable again, managers/Progress.ts), then the exact fresh set via
    prefilter + anti-join recheck (operators/seen_cuckoo.py). Output is exact
    set algebra, so the DuckDB oracle is a plain predicate."""
    from anycrawl_spark.operators.seen import with_dedup_key
    from anycrawl_spark.operators.seen_cuckoo import (
        build_cuckoo_shards, filter_fresh_cuckoo, merge_cuckoo_shards,
        rebuild_overflow_shards,
    )

    nb = 16
    o = _t(spark, sf_dir, "orders").select(
        F.concat(F.lit("job-"), (F.col("o_custkey") % 8).cast("string")).alias("job_id"),
        F.col("o_orderkey").cast("long").alias("url_hash"),
    )
    seen0 = o.filter(F.col("url_hash") % 3 == 0)                      # round-0 state
    inserts = o.filter((F.col("url_hash") % 5 == 0) & (F.col("url_hash") % 3 != 0))
    expired = o.filter(F.col("url_hash") % 9 == 0)                    # expiry sweep
    merged = merge_cuckoo_shards(
        build_cuckoo_shards(with_dedup_key(seen0, nb)),
        fresh_keyed=with_dedup_key(inserts, nb),
        delete_keyed=with_dedup_key(expired, nb),
    )
    seen_now = seen0.join(expired, ["job_id", "url_hash"], "left_anti").unionByName(inserts)
    # overflowed buckets (merge returns their ORIGINAL table + a flag) must be
    # rebuilt from the post-round exact keys before probing, or that round's
    # inserts would silently probe fresh — never skip this step
    merged = rebuild_overflow_shards(merged, with_dedup_key(seen_now, nb))
    # at contract/bench SF the shard set is KBs: the broadcast probe
    return filter_fresh_cuckoo(
        o, seen_now, nb, shards=merged.select("bucket", "n_keys", "table"),
        strategy="broadcast",
    )


SQL_CUCKOO_DEDUP = """
SELECT concat('job-', CAST(o_custkey % 8 AS VARCHAR)) AS job_id,
       CAST(o_orderkey AS BIGINT) AS url_hash
FROM orders
WHERE NOT ((o_orderkey % 3 = 0 AND o_orderkey % 9 <> 0)
        OR (o_orderkey % 5 = 0 AND o_orderkey % 3 <> 0))
"""


def q_ip_acl(spark, sf_dir):
    """API-key IP allowlist (ipUtils.ts:60-134, AuthMiddleware.ts:57): a
    request table's client IPs checked against an exact+CIDR whitelist —
    plan-time-folded masked range compares (functions/ipacl.py
    is_ip_allowed_expr), no UDF. Mix includes a non-IP string admitted by
    the exact-match-before-parse quirk."""
    from anycrawl_spark.functions.ipacl import is_ip_allowed_expr

    wl = ["192.168.1.0/24", "192.168.2.7", "10.0.0.0/8", "bad-ip"]
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    ip = F.when(k % 7 == 6, "bad-ip").otherwise(
        F.concat(F.lit("192.168."), (k % 4).cast("string"), F.lit("."), (k % 255).cast("string"))
    )
    grp = F.when(k % 7 == 6, "invalid").otherwise((k % 4).cast("string"))
    return (
        o.select(ip.alias("ip"), grp.alias("grp"))
        .withColumn("allowed", is_ip_allowed_expr(F.col("ip"), wl))
        .groupBy("grp", "allowed")
        .agg(F.count("*").alias("n"))
    )


SQL_IP_ACL = """
WITH m AS (
  SELECT CASE WHEN o_orderkey % 7 = 6 THEN 'invalid'
              ELSE CAST(o_orderkey % 4 AS VARCHAR) END AS grp,
         CASE WHEN o_orderkey % 7 = 6 THEN TRUE                -- exact 'bad-ip'
              WHEN o_orderkey % 4 = 1 THEN TRUE                -- 192.168.1.0/24
              WHEN o_orderkey % 4 = 2 AND o_orderkey % 255 = 7 THEN TRUE
              ELSE FALSE END AS allowed
  FROM orders)
SELECT grp, allowed, count(*) AS n FROM m GROUP BY 1, 2
"""


def q_credit_calc(spark, sf_dir):
    """X17, exact CreditCalculator semantics (credits.ts:39-103): per-request
    scrape credits = 1 + stealth-proxy surcharge + JSON-extraction credits
    (doubled for extract_source='html'), computed as pure column math
    (functions/credits.py scrape_credits_expr) over a request table whose
    proxy/formats/source fields are derived deterministically from orders.
    q_credits keeps the generic cost-agg shape; this one pins the formulas."""
    from anycrawl_spark.functions.credits import CreditEnv, scrape_credits_expr

    env = CreditEnv(stealth_proxy_urls=("http://p1",), extract_json_credits=3)
    o = _t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    proxy = (
        F.when(k % 4 == 0, "base").when(k % 4 == 1, "stealth")
        .when(k % 4 == 2, "auto").otherwise("http://custom:8080")
    )
    formats = (
        F.when(k % 3 == 0, F.array(F.lit("json")))
        .when(k % 3 == 1, F.array(F.lit("markdown"), F.lit("json")))
        .otherwise(F.array(F.lit("markdown")))
    )
    src = F.when(k % 5 == 0, "html").when(k % 5 == 1, "markdown").otherwise(F.lit(None))
    req = o.select(
        proxy.alias("proxy"),
        (k % 2 == 0).alias("has_json"),
        formats.alias("formats"),
        src.alias("src"),
    )
    return (
        req.withColumn(
            "credits",
            scrape_credits_expr(
                F.col("proxy"), F.col("has_json"), F.col("formats"), F.col("src"), env
            ),
        )
        .groupBy("proxy", "credits")
        .agg(F.count("*").alias("n"))
    )


SQL_CREDIT_CALC = """
WITH m AS (
  SELECT CASE o_orderkey % 4 WHEN 0 THEN 'base' WHEN 1 THEN 'stealth'
              WHEN 2 THEN 'auto' ELSE 'http://custom:8080' END AS proxy,
         1
         + CASE WHEN o_orderkey % 4 IN (1, 2) THEN 2 ELSE 0 END
         + CASE WHEN o_orderkey % 2 = 0 AND o_orderkey % 3 IN (0, 1)
                THEN CASE WHEN o_orderkey % 5 = 0 THEN 6 ELSE 3 END
                ELSE 0 END AS credits
  FROM orders)
SELECT proxy, credits, count(*) AS n FROM m GROUP BY 1, 2
"""


def q_engine_resolve(spark, sf_dir):
    """SERP engine resolution / graceful fallback (SearchService.ts:44-178):
    requested engine names resolved against two env configs — (a) multi-engine
    with default, exercising normalization + invalid/unconfigured fallback;
    (b) single-engine mode, exercising verbatim forcing and the raw-list
    membership quirk. Column-expr resolver (operators/serp.py
    resolve_engine_expr); the oracle is the hand-derived per-value mapping."""
    from anycrawl_spark.operators.serp import SearchEngineConfig, resolve_engine_expr

    cfg_a = SearchEngineConfig(
        default_engine="searxng", enabled_engines=("google", "searxng"),
        searxng_url="http://sx.local",
    )
    cfg_b = SearchEngineConfig(
        default_engine="google", enabled_engines=("SearXNG",),
        searxng_url="http://sx.local", ac_engine_url="http://ac.local",
    )
    vals = ["google", "SearXNG", " google ", "default", "", "bogus",
            "ac-engine", "AC-ENGINE"]
    k = F.col("o_orderkey") % 8
    req = F.when(k == 0, vals[0])
    for i in range(1, 8):
        req = req.when(k == i, vals[i])
    o = _t(spark, sf_dir, "orders").select(req.alias("requested"))
    return (
        o.withColumn("resolved_a", resolve_engine_expr(F.col("requested"), cfg_a))
        .withColumn("resolved_b", resolve_engine_expr(F.col("requested"), cfg_b))
        .groupBy("requested", "resolved_a", "resolved_b")
        .agg(F.count("*").alias("n"))
    )


SQL_ENGINE_RESOLVE = """
WITH m AS (
  SELECT CASE o_orderkey % 8
           WHEN 0 THEN 'google' WHEN 1 THEN 'SearXNG' WHEN 2 THEN ' google '
           WHEN 3 THEN 'default' WHEN 4 THEN '' WHEN 5 THEN 'bogus'
           WHEN 6 THEN 'ac-engine' ELSE 'AC-ENGINE' END AS requested,
         CASE o_orderkey % 8
           WHEN 0 THEN 'google' WHEN 1 THEN 'searxng' WHEN 2 THEN 'google'
           ELSE 'searxng' END AS resolved_a,
         CASE o_orderkey % 8
           WHEN 3 THEN 'google' WHEN 4 THEN 'google' WHEN 5 THEN 'google'
           ELSE 'SearXNG' END AS resolved_b
  FROM orders)
SELECT requested, resolved_a, resolved_b, count(*) AS n
FROM m GROUP BY 1, 2, 3
"""


def q_enrich_left_join(spark, sf_dir):
    """J2 SERP-enrichment shape: left join preserving left rows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(c, o.o_custkey == c.c_custkey, "left").select(
        "o_orderkey", "o_totalprice", "c_name", "c_mktsegment"
    )


SQL_ENRICH_LEFT_JOIN = """
SELECT o_orderkey, o_totalprice, c_name, c_mktsegment
FROM orders LEFT JOIN customer ON o_custkey = c_custkey
"""


def q_broadcast_dim_join(spark, sf_dir):
    """J3 job-metadata lookup shape: fact join broadcast(dim) + agg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_quantity")), 2).alias("volume"),
        )
    )


SQL_BROADCAST_DIM_JOIN = """
SELECT p_brand, count(*) AS n_items,
       round(sum(l_extendedprice * l_quantity), 2) AS volume
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY 1
"""


def q_budget_topk(spark, sf_dir):
    """O2 budget top-k (limit enforcement): row_number window <= k."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


SQL_BUDGET_TOPK = """
SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
  FROM orders) WHERE rank <= 3
"""


def q_discovery_seq(spark, sf_dir):
    """O1 discovery-sequence assignment: dense per-partition ordinal by time."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("discovery_seq", F.row_number().over(w) - 1)
        .select("user_id", "event_id", "discovery_seq")
    )


SQL_DISCOVERY_SEQ = """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) - 1 AS discovery_seq
FROM events
"""


def q_union_dedup(spark, sf_dir):
    """U1/U2 union + distinct-by-key (SERP page merge shape)."""
    o = _t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 150000).select("o_orderkey", "o_orderstatus")
    b = o.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_orderstatus")
    return a.unionByName(b).distinct()


SQL_UNION_DEDUP = """
SELECT DISTINCT * FROM (
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_totalprice > 150000
  UNION ALL
  SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderstatus = 'O')
"""


def q_path_filter(spark, sf_dir):
    """F1 include/exclude path regex filter (glob->regex, Base.ts:339-379)."""
    p = _t(spark, sf_dir, "part")
    return (
        p.filter(F.col("p_type").rlike("^STANDARD.*") & ~F.col("p_type").rlike(".*COPPER$"))
        .select("p_partkey", "p_type")
    )


SQL_PATH_FILTER = """
SELECT p_partkey, p_type FROM part
WHERE regexp_matches(p_type, '^STANDARD.*') AND NOT regexp_matches(p_type, '.*COPPER$')
"""


def q_credits(spark, sf_dir):
    """A5/X17 credits formula: per-row cost column math + per-group sum
    (credits.ts:96-139)."""
    o = _t(spark, sf_dir, "orders")
    cost = (
        F.lit(1)
        + F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 2).otherwise(0)
        + F.when(F.col("o_totalprice") > 200000, 3).otherwise(0)
    )
    return (
        o.withColumn("credits", cost)
        .groupBy("o_orderpriority")
        .agg(F.sum("credits").alias("credits_used"), F.count("*").alias("n_jobs"))
    )


SQL_CREDITS = """
SELECT o_orderpriority,
       CAST(sum(1 + CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 2 ELSE 0 END
             + CASE WHEN o_totalprice > 200000 THEN 3 ELSE 0 END) AS BIGINT) AS credits_used,
       count(*) AS n_jobs
FROM orders GROUP BY 1
"""


def q_bandwidth_agg(spark, sf_dir):
    """A6 traffic aggregation: per-key byte totals (Bandwidth.ts:43-52)."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 2).alias("bytes_total"),
        F.count("*").alias("n_requests"),
        F.countDistinct("user_id").alias("n_users"),
    )


SQL_BANDWIDTH_AGG = """
SELECT event_type, round(sum(value), 2) AS bytes_total,
       count(*) AS n_requests, count(DISTINCT user_id) AS n_users
FROM events GROUP BY 1
"""


def q_pagination(spark, sf_dir):
    """O3 results pagination: rank window + offset/limit slice
    (CrawlController.ts:231-242, MAX_PER_PAGE=100)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.orderBy(F.col("o_orderkey").asc())
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") > 100) & (F.col("rn") <= 200))
        .select("o_orderkey", "o_totalprice", "rn")
    )


SQL_PAGINATION = """
SELECT o_orderkey, o_totalprice, rn FROM (
  SELECT o_orderkey, o_totalprice, row_number() OVER (ORDER BY o_orderkey ASC) AS rn
  FROM orders) WHERE rn > 100 AND rn <= 200
"""


def q_retry_backoff(spark, sf_dir):
    """X12 exponential backoff math as columns (Queue.ts:83-88)."""
    li = _t(spark, sf_dir, "lineitem")
    attempt = F.least(F.col("l_linenumber"), F.lit(3))
    return (
        li.select(
            "l_orderkey", "l_linenumber",
            attempt.alias("attempt"),
            F.pow(F.lit(2.0), attempt).cast("long").alias("backoff_rounds"),
        )
    )


SQL_RETRY_BACKOFF = """
SELECT l_orderkey, l_linenumber,
       least(l_linenumber, 3) AS attempt,
       CAST(power(2.0, least(l_linenumber, 3)) AS BIGINT) AS backoff_rounds
FROM lineitem
"""


def q_queue_depth(spark, sf_dir):
    """A7 queue-depth stats: status histogram (Queue.ts:143-147)."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(F.count("*").alias("depth"))


SQL_QUEUE_DEPTH = "SELECT o_orderstatus, count(*) AS depth FROM orders GROUP BY 1"


def q_expiry_sweep(spark, sf_dir):
    """F11 expired/pending sweep: predicate filter + projection
    (Worker.ts:276-349)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") < F.lit("1995-01-01")) & (F.col("o_orderstatus") == "F")
        )
        .select("o_orderkey", F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"))
    )


SQL_EXPIRY_SWEEP = """
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date
FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01' AND o_orderstatus = 'F'
"""


def q_host_histogram(spark, sf_dir):
    """§4.2 skew detection: per-key frontier histogram feeding the salting
    decision (hosts with count above threshold)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(F.count("*").alias("n_pending"))
        .filter(F.col("n_pending") > 20)
    )


SQL_HOST_HISTOGRAM = """
SELECT l_suppkey, count(*) AS n_pending FROM lineitem
GROUP BY 1 HAVING count(*) > 20
"""


def q_serp_slice(spark, sf_dir):
    """O4 SERP final slice: global orderBy + limit with deterministic ties."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .select("o_orderkey", "o_totalprice")
        .limit(25)
    )


SQL_SERP_SLICE = """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
"""


def _synth_url_cols():
    """Deterministic URL synthesis over orders (shared by F6/F12 queries)."""
    host = (
        F.when(F.pmod("o_custkey", 7) == 0, F.lit("doubleclick.net"))
        .when(F.pmod("o_custkey", 7) == 1, F.lit("sub.googletagmanager.com"))
        .otherwise(
            F.concat(F.lit("host"), F.pmod("o_custkey", 50).cast("string"), F.lit(".example.com"))
        )
    )
    url = F.concat(F.lit("http://"), host, F.lit("/p/"), F.col("o_orderkey").cast("string"))
    return host, url


_SQL_SYNTH_HOST = """
CASE WHEN o_custkey % 7 = 0 THEN 'doubleclick.net'
     WHEN o_custkey % 7 = 1 THEN 'sub.googletagmanager.com'
     ELSE 'host' || (o_custkey % 50) || '.example.com' END
"""


def q_ad_filter(spark, sf_dir):
    """F6 ad-domain request filter: drop URLs containing blocked ad domains
    (EngineConfigurator.ts:178-202; list constants.ts:4-18)."""
    from anycrawl_spark.operators.rules import filter_ad_requests

    o = _t(spark, sf_dir, "orders")
    host, url = _synth_url_cols()
    reqs = o.select("o_orderkey", url.alias("url"))
    return filter_ad_requests(reqs)


def _sql_ad_regex() -> str:
    import re as _re

    from anycrawl_spark.operators.rules import AD_DOMAINS

    return "|".join(_re.escape(d) for d in AD_DOMAINS)


SQL_AD_FILTER = f"""
SELECT o_orderkey, url FROM (
  SELECT o_orderkey, 'http://' || {_SQL_SYNTH_HOST} || '/p/' || o_orderkey AS url
  FROM orders)
WHERE NOT regexp_matches(url, '{_sql_ad_regex()}')
"""


def q_proxy_match(spark, sf_dir):
    """F12/J5 proxy-rule first-match IN CONFIG ORDER (Proxy.ts:729-745 —
    each rule fires on its own criterion; the url/pattern/domain priority
    is within one rule, not a global tiering). Wildcard matching is the
    reference's matchesUrlPattern/matchesDomainPattern kernel: '*' any,
    '?' one char, case-insensitive, FULL-hostname domain match (so
    'doubleclick.net' hits only the bare host, '*.example.com' only true
    subdomains). The mix exercises '?' (p/1? = /p/10../p/19) and
    case-folding (*EXAMPLE.com*)."""
    from anycrawl_spark.operators.rules import ProxyRule, match_proxy

    o = _t(spark, sf_dir, "orders")
    host, url = _synth_url_cols()
    rules = [
        ProxyRule(proxy="proxy-teen", pattern="*EXAMPLE.com/p/1?"),
        ProxyRule(proxy="proxy-pattern", pattern="*example.com/p/1*"),
        ProxyRule(proxy="proxy-domain", domain="*.example.com"),
        ProxyRule(proxy="proxy-ads", domain="doubleclick.net"),
    ]
    df = o.select("o_orderkey", url.alias("url"), host.alias("host"))
    return df.select(
        "o_orderkey", "url",
        match_proxy(rules, F.col("url"), F.col("host")).alias("proxy"),
    )


SQL_PROXY_MATCH = f"""
SELECT o_orderkey, url,
       CASE WHEN regexp_matches(url, '(?i)^.*EXAMPLE\\.com/p/1.$') THEN 'proxy-teen'
            WHEN regexp_matches(url, '(?i)^.*example\\.com/p/1.*$') THEN 'proxy-pattern'
            WHEN regexp_matches(host, '(?i)^.*\\.example\\.com$') THEN 'proxy-domain'
            WHEN regexp_matches(host, '(?i)^doubleclick\\.net$') THEN 'proxy-ads'
            END AS proxy
FROM (SELECT o_orderkey,
             'http://' || {_SQL_SYNTH_HOST} || '/p/' || o_orderkey AS url,
             {_SQL_SYNTH_HOST} AS host
      FROM orders)
"""


# ---------------------------------------------------------------------------
# Training-data pipeline ops over documents / embeddings
# ---------------------------------------------------------------------------

def q_token_stats(spark, sf_dir):
    """Token counting + char counts + rolling-hash document fingerprint per
    document (all JVM column math). The `fp` column absorbs the former
    standalone q_doc_fingerprint query (merged r4 to fit the driver's
    50-entry contract window; the fingerprint kernel is value-checked here
    with identical coverage)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.char_count(F.col("text")).alias("n_chars_computed"),
        TX.fingerprint(F.col("text")).alias("fp"),
    )


SQL_TOKEN_STATS = r"""
SELECT doc_id,
       len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
       length(text) AS n_chars_computed,
       md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
FROM documents
"""


def q_lang_id(spark, sf_dir):
    """Language-ID heuristic (stopword argmax) + distribution."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("pred_lang", TX.lang_id(F.col("text")))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n"))
    )


def _sql_lang_hits(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
    return (
        r"len(list_filter(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),"
        f" x -> x <> ''), x -> list_contains([{words}], x)))"
    )


def _sql_lang_id() -> str:
    # generated from TX.STOPWORDS so the language set / word lists can't
    # drift between engine and oracle
    langs = sorted(TX.STOPWORDS)
    hit_cols = ",\n         ".join(f"{_sql_lang_hits(lg)} AS h_{lg}" for lg in langs)
    gr = f"greatest({', '.join('h_' + lg for lg in langs)})"
    case = f"CASE WHEN {gr} = 0 THEN 'und'\n"
    for lg in langs[:-1]:
        case += f"            WHEN h_{lg} = {gr} THEN '{lg}'\n"
    case += f"            ELSE '{langs[-1]}' END AS pred_lang"
    return f"""
WITH h AS (
  SELECT lang,
         {hit_cols}
  FROM documents)
SELECT lang,
       {case},
       count(*) AS n
FROM h GROUP BY 1, 2
"""


SQL_LANG_ID = _sql_lang_id()


def q_quality_score(spark, sf_dir):
    """Doc quality scoring: avg per source."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("q", TX.quality_score(F.col("text")))
        .groupBy("source")
        .agg(F.round(F.sum("q"), 2).alias("quality_sum"), F.count("*").alias("n_docs"))
    )


_SQL_TOKS = r"list_filter(regexp_split_to_array(lower(trim(text)), '\s+'), x -> x <> '')"
_SQL_EN = ", ".join(f"'{w}'" for w in TX.STOPWORDS["en"])

SQL_QUALITY_SCORE = f"""
WITH m AS (
  SELECT source,
         len({_SQL_TOKS}) AS n_tok,
         len(list_filter({_SQL_TOKS}, x -> list_contains([{_SQL_EN}], x))) AS n_stop,
         length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct,
         length(text) AS n_char
  FROM documents)
SELECT source,
       round(sum(round(
         0.4 * least(n_tok / 100.0, 1.0)
       + 0.3 * least((n_stop * 1.0 / greatest(n_tok, 1)) * 5.0, 1.0)
       + 0.3 * (1.0 - least((n_punct * 1.0 / greatest(n_char, 1)) * 10.0, 1.0)), 4)), 2) AS quality_sum,
       count(*) AS n_docs
FROM m GROUP BY 1
"""


def q_exact_dup_groups(spark, sf_dir):
    """Exact dedup groups: fingerprint -> (n_docs, keep_id)."""
    from anycrawl_spark.operators.dedup import exact_duplicates

    d = _t(spark, sf_dir, "documents")
    return exact_duplicates(d)


SQL_EXACT_DUP_GROUPS = r"""
SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
       count(*) AS n_docs, min(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


def q_minhash_unigram(spark, sf_dir):
    """MinHash signatures (unigram variant, md5-based so DuckDB can check;
    the k-shingle + LSH pipeline is q_near_duplicates / tests)."""
    d = _t(spark, sf_dir, "documents")
    toks = TX.tokens(F.lower(F.col("text")))

    def _hasher(seed: int):
        # NB: must be single-arg — a 2-arg lambda is (element, index) to Spark
        return lambda x: F.md5(F.concat(F.lit(f"{seed}|"), x))

    per_seed = [
        F.struct(
            F.lit(s).alias("seed"),
            F.array_min(F.transform(F.array_distinct(toks), _hasher(s))).alias("minhash"),
        )
        for s in range(4)
    ]
    return d.select(
        "doc_id", F.explode(F.array(*per_seed)).alias("ms")
    ).select("doc_id", F.col("ms.seed").alias("seed"), F.col("ms.minhash").alias("minhash"))


SQL_MINHASH_UNIGRAM = f"""
WITH t AS (SELECT doc_id, list_distinct({_SQL_TOKS}) AS toks FROM documents),
     s AS (SELECT unnest(range(4)) AS seed)
SELECT doc_id, seed,
       list_min(list_transform(toks, x -> md5(seed || '|' || x))) AS minhash
FROM t CROSS JOIN s
"""


def q_ngram_jaccard_pairs(spark, sf_dir):
    """n-gram (token-set) Jaccard similarity, all pairs within a 50-doc block."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    toks = d.select(
        "doc_id", F.array_distinct(TX.tokens(F.lower(F.col("text")))).alias("toks")
    )
    a = toks.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("toks_a"))
    b = toks.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("toks_b"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.round(
                F.size(F.array_intersect("toks_a", "toks_b"))
                / F.size(F.array_union("toks_a", "toks_b")),
                4,
            ).alias("jaccard"),
        )
    )


SQL_NGRAM_JACCARD_PAIRS = f"""
WITH t AS (SELECT doc_id, list_distinct({_SQL_TOKS}) AS toks FROM documents WHERE doc_id < 50)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       round(len(list_intersect(a.toks, b.toks)) * 1.0 /
             len(list_distinct(list_concat(a.toks, b.toks))), 4) AS jaccard
FROM t a, t b WHERE a.doc_id < b.doc_id
"""


def q_embedding_topk(spark, sf_dir):
    """Brute-force cosine top-k similarity search (queries = first 5 vecs)."""
    from anycrawl_spark.operators.similarity import cosine_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # rank at 4dp on BOTH engines: coarse enough that cross-engine ULP drift
    # can't flip an ordering (ties break on vec_id identically)
    return cosine_topk(e, qs, k=10, round_dp=4)


SQL_EMBEDDING_TOPK = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
     q AS (SELECT vec_id AS query_id, emb AS qemb FROM v WHERE vec_id < 5),
     s AS (SELECT q.query_id, v.vec_id,
                  round(list_dot_product(v.emb, q.qemb) /
                        greatest(sqrt(list_dot_product(v.emb, v.emb)) *
                                 sqrt(list_dot_product(q.qemb, q.qemb)), 1e-12), 4) AS cosine
           FROM v CROSS JOIN q),
     r AS (SELECT query_id, vec_id, cosine,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, vec_id ASC) AS rank
           FROM s)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
"""


def q_text_chunks(spark, sf_dir):
    """X14 token-aware chunking with overlap, exploded to one row per chunk
    (the LLM-context packing op of a training-data pipeline)."""
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return (
        d.select("doc_id", F.explode(TX.chunk_tokens(F.col("text"), 32, 8)).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.text").alias("chunk_text"),
            F.col("c.n_tokens").alias("n_tokens"),
        )
    )


SQL_TEXT_CHUNKS = rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 100),
c AS (
  SELECT doc_id, toks, len(toks) AS n,
         CASE WHEN len(toks) <= 0 THEN 0
              ELSE CAST(ceil(greatest(len(toks) - 8, 1) / 24.0) AS INT) END AS n_chunks
  FROM t),
i AS (SELECT doc_id, toks, n, unnest(range(greatest(n_chunks, 1))) AS chunk_id
      FROM c WHERE n > 0)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text,
       CAST(least(n - chunk_id * 24, 32) AS INT) AS n_tokens
FROM i
"""


def q_embedding_centroids(spark, sf_dir):
    """Per-label embedding centroids (IVF coarse-quantizer training step):
    element-wise mean over array<float> via posexplode + groupBy."""
    e = _t(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("v"), 5).alias("centroid_v"), F.count("*").alias("n_vecs"))
        .filter(F.col("dim") < 8)  # keep the checked slice compact
    )


SQL_EMBEDDING_CENTROIDS = """
SELECT label, CAST(d.dim AS INT) AS dim,
       round(avg(embedding[d.dim + 1]), 5) AS centroid_v, count(*) AS n_vecs
FROM embeddings CROSS JOIN (SELECT unnest(range(8)) AS dim) d
GROUP BY 1, 2
"""


def q_serp_urls(spark, sf_dir):
    """X15 locale-aware SERP URL building over a 12x13 locale mix synthesized
    from orders — full reference tables (google_locales.py), oracle-exact
    including the regions/fallback/domain joins, the RAW-case skip/regions
    lookups (lowercase 'my'/'de' in the mix), the seeded arc id, the
    limit<=0 num omission, tbs time ranges, and NULL-safe_search omission."""
    from anycrawl_spark.operators.serp import build_locale_serp_url

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    langs = F.element_at(
        F.array(*[F.lit(x) for x in _SERP_URL_LANGS]),
        (F.pmod("o_custkey", len(_SERP_URL_LANGS)) + 1).cast("int"),
    )
    countries = F.element_at(
        F.array(*[F.lit(x) for x in _SERP_URL_COUNTRIES]),
        (F.pmod("o_orderkey", len(_SERP_URL_COUNTRIES)) + 1).cast("int"),
    )
    q = F.concat(F.lit("query "), F.pmod("o_orderkey", 17).cast("string"))
    safe = F.when(
        F.pmod("o_orderkey", 4) < 3, F.pmod("o_orderkey", 4).cast("int")
    )  # %4 == 3 -> NULL -> param omitted
    time_range = F.element_at(
        F.array(*[F.lit(x) for x in _SERP_URL_TIME_RANGES]),
        (F.pmod("o_custkey", len(_SERP_URL_TIME_RANGES)) + 1).cast("int"),
    )
    return o.select(
        "o_orderkey",
        build_locale_serp_url(
            q, F.pmod("o_orderkey", 3) * 10, langs, countries,
            F.pmod("o_custkey", 120).cast("int"), safe, time_range,
        ).alias("serp_url"),
    )


# 12 languages x 13 countries (incl. skip-listed MY/UZ and NULL) => >=30
# distinct resolved locales through the full tables
_SERP_URL_LANGS = ["en", "de", "fr", "ja", "zh", "pt", "es", "it", "ru", "ar", "ko", "nl"]
_SERP_URL_COUNTRIES = ["US", "GB", "my", "BR", None, "de", "JP", "IN", "CH", "SA", "KR", "NL", "UZ"]
# lowercase 'my'/'de' exercise the reference's RAW-case skip + regions
# lookups (Google.ts:88-91 — no case folding on the user's country)
_SERP_URL_TIME_RANGES = ["day", "week", None, "month", "year", "decade"]


def _sql_serp_urls() -> str:
    """Oracle mirror of build_locale_serp_url, generated from the SAME data
    module (google_locales.py) so the locale tables cannot drift; the
    transform logic (skip-list, regions lookup, first-region fallback, domain
    join, hl/lr/cr/num/safe assembly) is re-expressed independently in SQL."""
    from anycrawl_spark.data.google_locales import (
        LANGUAGES, REGIONS, SUPPORTED_DOMAINS,
    )
    from anycrawl_spark.operators.serp import LANG_FALLBACK_COUNTRY, SKIP_COUNTRIES

    def values(d: dict) -> str:
        return ", ".join(f"('{k}', '{v}')" for k, v in d.items())

    langs_arr = ", ".join(f"'{x}'" for x in _SERP_URL_LANGS)
    countries_arr = ", ".join("NULL" if x is None else f"'{x}'" for x in _SERP_URL_COUNTRIES)
    ranges_arr = ", ".join("NULL" if x is None else f"'{x}'" for x in _SERP_URL_TIME_RANGES)
    skip_arr = ", ".join(f"'{c}'" for c in SKIP_COUNTRIES)
    return f"""
WITH langs_map(k, v) AS (VALUES {values(LANGUAGES)}),
regions_map(k, v) AS (VALUES {values(REGIONS)}),
domains_map(k, v) AS (VALUES {values(SUPPORTED_DOMAINS)}),
fallback_map(k, v) AS (VALUES {values(LANG_FALLBACK_COUNTRY)}),
base AS (
  SELECT o_orderkey,
         [{langs_arr}][(o_custkey % {len(_SERP_URL_LANGS)}) + 1] AS lang,
         [{countries_arr}][(o_orderkey % {len(_SERP_URL_COUNTRIES)}) + 1] AS country,
         'query ' || (o_orderkey % 17) AS q,
         (o_orderkey % 3) * 10 AS start,
         CAST(o_custkey % 120 AS INT) AS lim,
         CASE WHEN o_orderkey % 4 < 3 THEN CAST(o_orderkey % 4 AS INT) END AS safe_in,
         [{ranges_arr}][(o_custkey % {len(_SERP_URL_TIME_RANGES)}) + 1] AS tr
  FROM orders WHERE o_orderkey < 2000),
r1 AS (
  SELECT base.*, coalesce(lm.v, 'en') AS eng_lang
  FROM base LEFT JOIN langs_map lm ON lm.k = base.lang),
r2 AS (
  SELECT r1.*,
         CASE WHEN strpos(eng_lang, '_') > 0 THEN split_part(eng_lang, '_', 2)
              ELSE eng_lang END AS lang_code,
         coalesce(
           CASE WHEN lang IS NOT NULL AND country IS NOT NULL
                 AND NOT list_contains([{skip_arr}], country)
                THEN rm.v END,
           CASE WHEN lang IS NOT NULL THEN fm.v END,
           'US') AS rc
  FROM r1
  LEFT JOIN regions_map rm ON rm.k = r1.lang || '-' || r1.country
  LEFT JOIN fallback_map fm ON fm.k = r1.lang)
SELECT o_orderkey,
  'https://' || coalesce(dm.v, 'www.google.com') ||
  '/search?q=' || replace(q, ' ', '+') ||
  '&start=' || start ||
  '&hl=' || lang_code || '-' || rc ||
  '&lr=' || eng_lang ||
  '&cr=country' || rc ||
  '&ie=utf8&oe=utf8&filter=0&asearch=arc&async=arc_id%3Asrp_' ||
  substring(md5(q || '|' || start), 1, 23) ||
  '_1' || CASE WHEN length(CAST(start AS VARCHAR)) < 2
               THEN lpad(CAST(start AS VARCHAR), 2, '0')
               ELSE CAST(start AS VARCHAR) END ||
  '%2Cuse_ac%3Atrue%2C_fmt%3Aprog' ||
  CASE WHEN lim > 0 THEN '&num=' || least(greatest(lim, 1), 100) ELSE '' END ||
  coalesce('&tbs=qdr%3A' || CASE tr WHEN 'day' THEN 'd' WHEN 'week' THEN 'w'
           WHEN 'month' THEN 'm' WHEN 'year' THEN 'y' END, '') ||
  CASE WHEN safe_in IS NULL THEN '' ELSE '&safe=' ||
    coalesce(CASE safe_in WHEN 0 THEN 'off' WHEN 1 THEN 'medium' WHEN 2 THEN 'high' END, 'medium')
  END AS serp_url
FROM r2 LEFT JOIN domains_map dm ON dm.k = upper(r2.rc)
"""


SQL_SERP_URLS = _sql_serp_urls()


def q_finalize_check(spark, sf_dir):
    """A3 finalize decision: filter on the progress aggregate —
    ``done >= limit OR (enqueued > 0 AND done == enqueued)`` (the batch analog
    of the reference's atomic Lua policy, Progress.ts:279-298)."""
    o = _t(spark, sf_dir, "orders")
    prog = o.groupBy("o_custkey").agg(
        F.count("*").alias("done"),
        F.sum(F.when(F.col("o_orderstatus") != "P", 1).otherwise(0)).alias("enqueued"),
    )
    limit = F.lit(8)
    return prog.filter(
        (F.col("done") >= limit)
        | ((F.col("enqueued") > 0) & (F.col("done") == F.col("enqueued")))
    ).select("o_custkey", "done", "enqueued")


SQL_FINALIZE_CHECK = """
SELECT o_custkey, done, enqueued FROM (
  SELECT o_custkey, count(*) AS done,
         CAST(sum(CASE WHEN o_orderstatus <> 'P' THEN 1 ELSE 0 END) AS BIGINT) AS enqueued
  FROM orders GROUP BY 1)
WHERE done >= 8 OR (enqueued > 0 AND done = enqueued)
"""


_WEBHOOK_TICKS = 5


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs over a planted block: vectors 0..49
    get a perturbed copy (x*1.001 + 0.01, double math) at vec_id+10000; the
    LSH-bucketed pair join + exact cosine must recover every pair >= 0.99.
    Deterministic hashes + multiprobe => stable output; the oracle is the
    exact all-pairs cosine over the same 100-vector block."""
    from anycrawl_spark.operators.similarity import embedding_near_duplicates

    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 50)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )
    planted = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(1.001) + F.lit(0.01)).alias("embedding"),
    )
    # Hamming-2 multiprobe: a 0.1%-scale perturbation can flip two of the
    # eight hyperplane signs, so radius 1 deterministically missed one pair
    return embedding_near_duplicates(
        e.unionByName(planted), dim=64, threshold=0.99, bits=8, multiprobe=2
    )


SQL_EMBEDDING_NEAR_DUP = r"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < 50),
planted AS (
  SELECT vec_id + 10000 AS vec_id, [x * 1.001 + 0.01 FOR x IN v] AS v FROM base),
allv AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v)
             / greatest(sqrt(list_dot_product(a.v, a.v))
                        * sqrt(list_dot_product(b.v, b.v)), 1e-12), 4) AS cosine
FROM allv a JOIN allv b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / greatest(sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v)), 1e-12), 4) >= 0.99
"""


_IVF_CENTROIDS = [
    [(((i * 31 + d * 7) % 17) - 8) / 8.0 for d in range(64)] for i in range(4)
]


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k (FAISS shape): vectors partition by nearest of 4
    literal centroids; 5 queries probe their nprobe=2 closest lists; exact
    cosine + rank inside the probed lists only. Deterministic, so the full
    SQL mirror (assignment, probe selection, ranked slice) value-checks it."""
    from anycrawl_spark.operators.similarity import ivf_topk

    e = (
        _t(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 400)
        .select("vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding"))
    )
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, q, _IVF_CENTROIDS, k=5, nprobe=2)


def _sql_ivf_topk() -> str:
    cents = ", ".join(
        "(" + str(i) + ", [" + ", ".join(f"{x}" for x in c) + "])"
        for i, c in enumerate(_IVF_CENTROIDS)
    )
    # squared euclidean via explicit dot expansion keeps the metric identical
    # to the Spark fold: d2(v,c) = dot(v,v) - 2 dot(v,c) + dot(c,c)? NO —
    # different float rounding. Instead sum the squared diffs with the same
    # left-to-right order via list_sum(list_transform(...)).
    d2 = "list_sum([ (v.v[k+1] - c.c[k+1]) * (v.v[k+1] - c.c[k+1]) FOR k IN range(64) ])"
    d2q = d2.replace("v.v", "q.v")
    return f"""
WITH cents(i, c) AS (VALUES {cents}),
v AS (
  SELECT vec_id, embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < 400),
assign0 AS (
  SELECT vec_id, v.v AS v, c.i AS ivf_list,
         row_number() OVER (PARTITION BY vec_id ORDER BY {d2}, c.i) AS rn
  FROM v CROSS JOIN cents c),
assign AS (SELECT vec_id, v, ivf_list FROM assign0 WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v FROM v WHERE vec_id < 5),
probes AS (
  SELECT query_id, q.v AS qv, c.i AS ivf_list,
         row_number() OVER (PARTITION BY query_id ORDER BY {d2q}, c.i) AS pr
  FROM q CROSS JOIN cents c),
cand AS (
  SELECT p.query_id, a.vec_id, a.v, p.qv
  FROM probes p JOIN assign a ON a.ivf_list = p.ivf_list
  WHERE p.pr <= 2),
scored AS (
  SELECT query_id, vec_id,
         round(list_dot_product(v, qv)
               / greatest(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)),
                          1e-12), 6) AS cosine
  FROM cand),
ranked AS (
  SELECT query_id, vec_id, cosine,
         CAST(row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
  FROM scored)
SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 5
"""


SQL_IVF_TOPK = _sql_ivf_topk()


_SCHED_TEMPLATES = [
    ("tpl-0", "scrape", "playwright"),
    ("tpl-1", "crawl", None),
    ("tpl-2", "search", "cheerio"),
]


def q_scheduled_tasks(spark, sf_dir):
    """J4 + A4 in one pipeline (Scheduler.ts:241-262, 346-409): resolve
    template-typed tasks through the template dim (actual type / engine
    fallback chain / queue name), then apply the daily execution gate."""
    from anycrawl_spark.operators.scheduler import (
        daily_execution_gate, resolve_task_templates,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    tasks = o.select(
        F.concat(F.lit("task-"), F.col("o_orderkey").cast("string")).alias("task_id"),
        F.element_at(
            F.array(F.lit("scrape"), F.lit("crawl"), F.lit("template"), F.lit("template")),
            (F.pmod("o_orderkey", 4) + 1).cast("int"),
        ).alias("task_type"),
        F.when(F.pmod("o_custkey", 3) == 0, F.lit("playwright")).alias("payload_engine"),
        F.when(
            F.pmod("o_orderkey", 4) >= 2,
            F.concat(F.lit("tpl-"), F.pmod("o_orderkey", 3).cast("string")),
        ).alias("payload_template_id"),
        F.when(F.pmod("o_custkey", 4) != 0, F.pmod("o_custkey", 5).cast("int"))
        .alias("max_executions_per_day"),
    )
    templates = spark.createDataFrame(
        _SCHED_TEMPLATES, "template_id string, template_type string, template_engine string"
    )
    executions = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 400).select(
        F.concat(F.lit("task-"), F.col("l_orderkey").cast("string")).alias("task_id"),
        F.when(F.pmod("l_linenumber", 2) == 0, F.lit("2026-08-17"))
        .otherwise(F.lit("2026-08-16")).alias("exec_day"),
    )
    resolved = resolve_task_templates(tasks, templates)
    gated = daily_execution_gate(resolved, executions, "2026-08-17")
    return gated.select(
        "task_id", "task_type", "actual_type", "engine", "queue_name",
        F.col("executions_today").cast("int").alias("executions_today"),
        "max_executions_per_day", "eligible",
    )


def _sql_scheduled_tasks() -> str:
    tpl_values = ", ".join(
        f"('{t}', '{ty}', " + ("NULL" if e is None else f"'{e}'") + ")"
        for t, ty, e in _SCHED_TEMPLATES
    )
    return f"""
WITH templates(template_id, template_type, template_engine) AS (VALUES {tpl_values}),
tasks AS (
  SELECT 'task-' || o_orderkey AS task_id,
         ['scrape','crawl','template','template'][(o_orderkey % 4) + 1] AS task_type,
         CASE WHEN o_custkey % 3 = 0 THEN 'playwright' END AS payload_engine,
         CASE WHEN o_orderkey % 4 >= 2 THEN 'tpl-' || (o_orderkey % 3) END AS payload_template_id,
         CASE WHEN o_custkey % 4 <> 0 THEN CAST(o_custkey % 5 AS INT) END AS max_executions_per_day
  FROM orders WHERE o_orderkey < 400),
execs AS (
  SELECT 'task-' || l_orderkey AS task_id,
         CASE WHEN l_linenumber % 2 = 0 THEN '2026-08-17' ELSE '2026-08-16' END AS exec_day
  FROM lineitem WHERE l_orderkey < 400),
resolved AS (
  SELECT t.*,
         CASE WHEN t.task_type = 'template' THEN tpl.template_type
              ELSE t.task_type END AS actual_type,
         coalesce(t.payload_engine,
                  CASE WHEN t.task_type = 'template' THEN tpl.template_engine END,
                  'cheerio') AS engine
  FROM tasks t LEFT JOIN templates tpl
    ON t.task_type = 'template' AND t.payload_template_id = tpl.template_id),
counts AS (
  SELECT task_id, count(*) AS executions_today FROM execs
  WHERE exec_day = '2026-08-17' GROUP BY 1)
SELECT r.task_id, r.task_type, r.actual_type, r.engine,
       concat_ws('-', r.actual_type, r.engine) AS queue_name,
       CAST(coalesce(c.executions_today, 0) AS INT) AS executions_today,
       r.max_executions_per_day,
       CASE WHEN r.max_executions_per_day IS NOT NULL AND r.max_executions_per_day > 0
            THEN coalesce(c.executions_today, 0) < r.max_executions_per_day
            ELSE TRUE END AS eligible
FROM resolved r LEFT JOIN counts c ON c.task_id = r.task_id
"""


SQL_SCHEDULED_TASKS = _sql_scheduled_tasks()


def q_template_render(spark, sf_dir):
    """Template-request pipeline (apps/api templateHandler/urlTemplate/
    optionMerger/templateValidator): broadcast templates dim join + one
    Arrow-batched kernel; fixture covers rendering filters, defaults,
    variable mapping, option merge, query/url transforms, and the access/
    type/field/required/enum failure modes. Oracle = hand-enumerated
    expected rows (oracle_mirrors._TEMPLATE_RENDER_EXPECTED)."""
    from anycrawl_spark.operators.templates import (
        contract_fixture, process_template_requests,
    )

    templates_rows, request_rows = contract_fixture()
    templates = spark.createDataFrame(
        templates_rows,
        "template_id string, template_type string, status string, "
        "review_status string, created_by string, config_json string",
    )
    requests = spark.createDataFrame(
        request_rows,
        "request_id string, template_id string, template_type string, "
        "url string, query string, variables_json string, "
        "extra_fields array<string>, user_id string, responses_json string",
    )
    return process_template_requests(requests, templates)


def q_webhook_deliveries(spark, sf_dir):
    """S11 webhook delivery/retry state machine (Webhook.ts:136-409) run for
    5 deterministic ticks over orders-synthesized events: pending ->
    delivered | retrying(backoff 2^attempt rounds) -> pending -> failed at
    max_attempts. Outcomes are md5-derived (first hex digit <= '7' ~ 50%
    success), so the full lifecycle is oracle-exact."""
    from anycrawl_spark.operators.webhooks import (
        advance_deliveries, create_deliveries, release_due_retries,
    )

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    events = o.select(
        F.concat(F.lit("job-"), F.pmod("o_custkey", 20).cast("string")).alias("job_id"),
        F.element_at(
            F.array(F.lit("crawl.completed"), F.lit("crawl.failed"), F.lit("page.scraped")),
            (F.pmod("o_orderkey", 3) + 1).cast("int"),
        ).alias("event"),
        F.pmod("o_orderkey", 2).cast("int").alias("round"),
    ).distinct()
    subs = spark.createDataFrame(
        _webhook_subs(), "sub_id string, job_id string, event string, url string, "
        "active boolean, max_attempts int, custom_headers string",
    )
    st = create_deliveries(events, subs)
    for t in range(1, _WEBHOOK_TICKS + 1):
        st = release_due_retries(st, now_round=t)
        outcomes = st.filter(F.col("status") == "pending").select(
            "delivery_id",
            (F.substring(F.md5(F.concat_ws("#", "delivery_id", F.lit(str(t)))), 1, 1)
             <= F.lit("7")).alias("ok"),
            F.when(
                F.substring(F.md5(F.concat_ws("#", "delivery_id", F.lit(str(t)))), 1, 1)
                <= F.lit("7"), F.lit(200)
            ).otherwise(F.lit(503)).alias("response_status"),
        )
        st = advance_deliveries(st, outcomes, now_round=t)
    return st.select(
        "delivery_id", "status",
        F.col("attempt_number").cast("int").alias("attempt_number"),
        F.col("next_retry_round").cast("int").alias("next_retry_round"),
        F.col("response_status").cast("int").alias("response_status"),
        "request_headers", "request_body", "request_body_sha256",
    )


def _webhook_subs() -> list[tuple]:
    """Deterministic subscription dim shared by the Spark query and the
    generated oracle SQL: 20 jobs x 2 event subscriptions; every 5th job
    inactive; alternating max_attempts 2/3; every 3rd sub carries custom
    request headers (Webhook.ts:149 customHeaders), the rest NULL -> '{}'."""
    rows = []
    for j in range(20):
        for i, ev in enumerate(("crawl.completed", "page.scraped")):
            idx = j * 2 + i
            headers = (
                '{"X-Team":"team-%d","X-Env":"prod"}' % j if idx % 3 == 0 else None
            )
            rows.append(
                (f"sub-{j}-{i}", f"job-{j}", ev, f"http://hooks.example/{j}/{i}",
                 j % 5 != 4, 2 if (j + i) % 2 == 0 else 3, headers)
            )
    return rows


def _sql_webhook_deliveries() -> str:
    subs_values = ", ".join(
        "('{}', '{}', '{}', '{}', {}, {}, {})".format(
            sid, jid, ev, url, str(act).upper(), ma,
            "'" + hdr + "'" if hdr is not None else "CAST(NULL AS VARCHAR)",
        )
        for sid, jid, ev, url, act, ma, hdr in _webhook_subs()
    )
    carry = "request_headers, request_body, request_body_sha256"
    parts = [f"""
WITH subs(sub_id, job_id, event, url, active, max_attempts, custom_headers)
  AS (VALUES {subs_values}),
events AS (
  SELECT DISTINCT
    'job-' || (o_custkey % 20) AS job_id,
    ['crawl.completed','crawl.failed','page.scraped'][(o_orderkey % 3) + 1] AS event,
    CAST(o_orderkey % 2 AS INT) AS round
  FROM orders WHERE o_orderkey < 300),
s0 AS (
  SELECT e.job_id || '|' || e.event || '|' || e.round || '|' || s.sub_id AS delivery_id,
         'pending' AS status, 1 AS attempt_number, s.max_attempts,
         CAST(NULL AS INT) AS next_retry_round, CAST(NULL AS INT) AS response_status,
         coalesce(s.custom_headers, '{{}}') AS request_headers,
         '{{"job_id":"' || e.job_id || '","event":"' || e.event ||
           '","round":' || CAST(e.round AS VARCHAR) || '}}' AS request_body,
         sha256('{{"job_id":"' || e.job_id || '","event":"' || e.event ||
           '","round":' || CAST(e.round AS VARCHAR) || '}}') AS request_body_sha256
  FROM events e JOIN subs s ON s.active AND s.job_id = e.job_id AND s.event = e.event)"""]
    prev = "s0"
    for t in range(1, _WEBHOOK_TICKS + 1):
        parts.append(f""",
r{t} AS (  -- release due retries at tick {t}
  SELECT delivery_id,
         CASE WHEN status = 'retrying' AND next_retry_round <= {t}
              THEN 'pending' ELSE status END AS status,
         attempt_number, max_attempts, next_retry_round, response_status, {carry}
  FROM {prev}),
s{t} AS (  -- attempt outcome + transition at tick {t}
  SELECT delivery_id,
    CASE WHEN status <> 'pending' THEN status
         WHEN ok THEN 'delivered'
         WHEN attempt_number < max_attempts THEN 'retrying'
         ELSE 'failed' END AS status,
    CASE WHEN status = 'pending' AND NOT ok AND attempt_number < max_attempts
         THEN attempt_number + 1 ELSE attempt_number END AS attempt_number,
    max_attempts,
    CASE WHEN status = 'pending' AND NOT ok AND attempt_number < max_attempts
         THEN {t} + CAST(power(2, attempt_number) AS INT)
         ELSE next_retry_round END AS next_retry_round,
    CASE WHEN status = 'pending' THEN new_status ELSE response_status END AS response_status,
    {carry}
  FROM (SELECT *,
               substring(md5(delivery_id || '#' || '{t}'), 1, 1) <= '7' AS ok,
               CASE WHEN substring(md5(delivery_id || '#' || '{t}'), 1, 1) <= '7'
                    THEN 200 ELSE 503 END AS new_status
        FROM r{t}))""")
        prev = f"s{t}"
    parts.append(f"""
SELECT delivery_id, status, CAST(attempt_number AS INT) AS attempt_number,
       next_retry_round, response_status, {carry}
FROM {prev}""")
    return "".join(parts)


SQL_WEBHOOK_DELIVERIES = _sql_webhook_deliveries()


# ---------------------------------------------------------------------------
# Non-SQL-expressible ops: rows-only driver check; full checks in tests/
# ---------------------------------------------------------------------------

def q_serp_search(spark, sf_dir):
    """SERP build+fetch+parse+slice pipeline (X15/X16/O4); parse is a pandas
    UDF over synthetic Google-DOM pages — not SQL-expressible."""
    from anycrawl_spark.operators.serp import serp_search

    ensure_dist(spark)
    qdf = spark.createDataFrame(
        [("q0", "spark crawl engine", 15), ("q1", "frontier dedup bloom", 7)],
        "query_id string, query string, limit int",
    )
    return serp_search(qdf)


def q_simhash(spark, sf_dir):
    """SimHash fingerprints (xxhash64 fast path). Bench/test-only since r4 —
    not in the QUERIES contract (DuckDB has no xxhash64, so it could never be
    value-checked there; q_simhash_md5 value-checks the identical one-pass
    bit-majority operator and test_dedup property-checks Hamming locality)."""
    from anycrawl_spark.operators.dedup import simhash

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return simhash(d)


def q_near_duplicates(spark, sf_dir):
    """MinHash-LSH near-dup pipeline (k=3 shingles). The corpus is all
    distinct at test scale, so near-dups are planted: docs 0..29 get a mutated
    copy (last 3 tokens dropped) at doc_id+10000; the pipeline must recover
    (i, i+10000) pairs via LSH banding + Jaccard verify."""
    from anycrawl_spark.operators.dedup import near_duplicates

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30).select("doc_id", "text")
    toks = TX.tokens(F.col("text"))
    mutated = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
        ).alias("text"),
    )
    # bands=num_seeds (1 row/band) = max-recall banding: a pair is a
    # candidate if ANY minhash agrees; the Jaccard verify then filters.
    # Recall for j>=0.5 pairs is 1-(1-j)^12 > 0.9997 per pair -- and the
    # hashes are deterministic, so the outcome is stable, letting the exact
    # all-pairs oracle (SQL_NEAR_DUPLICATES) value-check this end to end.
    return near_duplicates(d.unionByName(mutated), threshold=0.5, bands=12)


def q_simhash_md5(spark, sf_dir):
    """Oracle-checkable 60-bit SimHash (md5 token hash; bit-majority vote).
    The xxhash64 variant (q_simhash) stays as the fast JVM path."""
    from anycrawl_spark.operators.dedup import simhash_md5

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return simhash_md5(d)


def _sql_simhash_md5() -> str:
    # token hash = first 15 md5 hex digits as base-16 int (matches the Spark
    # instr/substr arithmetic digit-for-digit); majority vote per bit
    tok60 = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(tok), {d}, 1)) - 1) * {16 ** (15 - d)}"
        for d in range(1, 16)
    )
    return f"""
WITH base AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE doc_id < 120),
tok AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(t), '\\s+')) AS tok FROM base),
th AS (
  SELECT doc_id, CAST({tok60} AS BIGINT) AS h FROM tok WHERE tok <> ''),
bits AS (
  SELECT doc_id, g.i AS i,
         sum(CAST((h >> g.i) & 1 AS BIGINT)) AS cnt, count(*) AS n
  FROM th CROSS JOIN generate_series(0, 59) AS g(i)
  GROUP BY doc_id, g.i)
SELECT doc_id,
       CAST(sum(CASE WHEN cnt * 2 >= n THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash60,
       CAST(max(n) AS INT) AS n_tokens
FROM bits GROUP BY doc_id
"""


SQL_SIMHASH_MD5 = _sql_simhash_md5()


# X13 contract schema: one field per mock-generator branch (string / integer /
# boolean / array / nested object). `number` is exercised in pytest instead —
# its JSON repr (shortest round-trip double) is the one piece not worth
# restating in SQL.
_LLM_EXTRACT_SCHEMA = {
    "type": "object",
    "properties": {
        "title": {"type": "string"},
        "count": {"type": "integer"},
        "flag": {"type": "boolean"},
        "tags": {"type": "array", "items": {"type": "string"}},
        "author": {"type": "object", "properties": {"name": {"type": "string"}}},
    },
}


def q_llm_extract(spark, sf_dir):
    """X13 LLM structured extraction (LLMExtract.ts perform): schema-normalized
    chunk->generate->merge with token/cost accounting, the generator mocked
    by md5 arithmetic so the WHOLE pipeline value-checks in DuckDB. The merged
    JSON is exploded to scalar columns for the driver canonicalizer."""
    from anycrawl_spark.operators.llm_extract import llm_extract

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    ex = llm_extract(d, _LLM_EXTRACT_SCHEMA, max_tokens_input=32, chunk_overlap=8)
    p = F.from_json(
        "data_json",
        "title string, count bigint, flag boolean, tags array<string>, "
        "author struct<name:string>",
    )
    return ex.select(
        "doc_id",
        p.getField("title").alias("title"),
        p.getField("count").alias("cnt"),
        p.getField("flag").cast("int").alias("flag"),
        F.array_join(p.getField("tags"), "|").alias("tags_joined"),
        p.getField("author").getField("name").alias("author_name"),
        "chunks",
        "tokens_input",
        "tokens_output",
        "tokens_total",
        "cost",
    )


def _sql_llm_extract() -> str:
    """Full SQL restatement of the mocked extraction pipeline: X14 chunking
    (the q_text_chunks CTE plus the raw-text direct path), md5-digit mock
    generation per field path, per-chunk JSON-length token accounting, and
    the JS-semantics merge (first-truthy primitives, bool_or, ordered
    dedup-concat arrays, last-wins nested objects) — all per LLMExtract.ts
    semantics. const_len below is recomputed from the same pure prompt
    builders that the pandas stage uses (pytest-verified against the
    reference's prompt texts)."""
    from anycrawl_spark.operators.llm_extract import (
        EXTRACT_SYSTEM_PROMPT,
        build_extraction_prompt,
        create_field_prompt,
        normalize_schema,
    )

    norm = normalize_schema(_LLM_EXTRACT_SCHEMA)
    const_len = len(build_extraction_prompt("", create_field_prompt(norm), None)) + len(
        EXTRACT_SYSTEM_PROMPT
    )

    def d48(expr: str) -> str:
        # first 12 md5 hex digits of '<path>|<chunk>' as a 48-bit int — the
        # simhash_md5 strpos technique, digit-for-digit vs Python int(hex,16)
        digits = " + ".join(
            f"(strpos('0123456789abcdef', substring({expr}, {i}, 1)) - 1) * {16 ** (12 - i)}"
            for i in range(1, 13)
        )
        return f"CAST({digits} AS BIGINT)"

    def sval(d: str) -> str:  # mock string: '' 1-in-5 else 'v' || d % 9973
        return f"CASE WHEN {d} % 5 = 0 THEN '' ELSE 'v' || CAST({d} % 9973 AS VARCHAR) END"

    return rf"""
WITH base AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS toks
  FROM documents WHERE doc_id < 150),
sized AS (SELECT doc_id, text, toks, len(toks) AS n FROM base),
ch AS (
  SELECT doc_id, 0 AS chunk_id, text AS ct FROM sized WHERE n <= 32
  UNION ALL
  SELECT doc_id, CAST(w.chunk_id AS INT) AS chunk_id,
         array_to_string(toks[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS ct
  FROM (SELECT doc_id, toks,
               unnest(range(CAST(ceil(greatest(n - 8, 1) / 24.0) AS INT))) AS chunk_id
        FROM sized WHERE n > 32) w),
md AS (
  SELECT doc_id, chunk_id, ct,
         md5('$.title|' || ct) AS m_ti, md5('$.count|' || ct) AS m_co,
         md5('$.flag|' || ct) AS m_fl, md5('$.tags|' || ct) AS m_tg,
         md5('$.tags[0]|' || ct) AS m_t0, md5('$.tags[1]|' || ct) AS m_t1,
         md5('$.author.name|' || ct) AS m_an
  FROM ch),
vals AS (
  SELECT doc_id, chunk_id, length(ct) AS ct_len,
         {sval(d48('m_ti'))} AS title_c,
         {d48('m_co')} % 1000 AS count_c,
         ({d48('m_fl')} % 2 = 0) AS flag_c,
         1 + {d48('m_tg')} % 2 AS n_tags,
         {sval(d48('m_t0'))} AS tag0,
         {sval(d48('m_t1'))} AS tag1,
         {sval(d48('m_an'))} AS name_c
  FROM md),
acct AS (
  SELECT *,
         '{{"title":"' || title_c || '","count":' || CAST(count_c AS VARCHAR) ||
         ',"flag":' || CASE WHEN flag_c THEN 'true' ELSE 'false' END ||
         ',"tags":["' || tag0 || '"' ||
         CASE WHEN n_tags = 2 THEN ',"' || tag1 || '"' ELSE '' END ||
         '],"author":{{"name":"' || name_c || '"}}}}' AS cjson
  FROM vals),
tok AS (
  SELECT doc_id, chunk_id, title_c, count_c, flag_c, n_tags, tag0, tag1, name_c,
         CAST(ceil((ct_len + {const_len}) / 4.0) AS BIGINT) AS tin_c,
         CAST(ceil(length(cjson) / 4.0) AS BIGINT) AS tout_c
  FROM acct),
tokn AS (SELECT *, count(*) OVER (PARTITION BY doc_id) AS nch FROM tok),
-- single-chunk docs skip the merge entirely (merge_results returns the lone
-- chunk result RAW), so within-chunk duplicate tags survive; only multi-chunk
-- docs go through the ordered dedup-concat
single_tags AS (
  SELECT doc_id, tag0 || CASE WHEN n_tags = 2 THEN '|' || tag1 ELSE '' END AS tags_joined
  FROM tokn WHERE nch = 1),
items AS (
  SELECT doc_id, chunk_id * 2 AS pos, tag0 AS val FROM tokn WHERE nch > 1
  UNION ALL
  SELECT doc_id, chunk_id * 2 + 1 AS pos, tag1 AS val FROM tokn WHERE nch > 1 AND n_tags = 2),
multi_tags AS (
  SELECT doc_id, string_agg(val, '|' ORDER BY first_pos) AS tags_joined
  FROM (SELECT doc_id, val, min(pos) AS first_pos FROM items GROUP BY doc_id, val)
  GROUP BY doc_id),
tagg AS (SELECT * FROM single_tags UNION ALL SELECT * FROM multi_tags),
agg AS (
  SELECT doc_id,
         coalesce(arg_min(title_c, chunk_id) FILTER (WHERE title_c <> ''), '') AS title,
         CAST(coalesce(arg_min(count_c, chunk_id) FILTER (WHERE count_c <> 0), 0) AS BIGINT) AS cnt,
         CAST(bool_or(flag_c) AS INT) AS flag,
         arg_max(name_c, chunk_id) AS author_name,
         CAST(count(*) AS INT) AS chunks,
         CAST(sum(tin_c) AS BIGINT) AS tokens_input,
         CAST(sum(tout_c) AS BIGINT) AS tokens_output
  FROM tok GROUP BY doc_id)
SELECT a.doc_id, a.title, a.cnt, a.flag, t.tags_joined, a.author_name, a.chunks,
       a.tokens_input, a.tokens_output,
       a.tokens_input + a.tokens_output AS tokens_total,
       1e-6 * a.tokens_input + 2e-6 * a.tokens_output AS cost
FROM agg a JOIN tagg t USING (doc_id)
"""


SQL_LLM_EXTRACT = _sql_llm_extract()


SQL_NEAR_DUPLICATES = r"""
WITH base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 30),
tokd AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM base),
mutated AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(tk[1:greatest(len(tk) - 3, 1)], ' ') AS text
  FROM tokd),
alldocs AS (
  SELECT doc_id, text FROM base UNION ALL SELECT doc_id, text FROM mutated),
sh AS (  -- word 3-shingles, distinct; whole text when < 3 tokens
  SELECT doc_id,
         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
                                 FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)])
         END AS sh
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> x <> '') AS tk
        FROM alldocs)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
"""


def q_ann_lsh(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbors (recall tested in pytest).

    Value-checked: the hyperplanes are deterministic blake2b constants, so
    the bucket math + multiprobe + cosine rank restate fully in DuckDB
    (oracle_mirrors.sql_ann_lsh). 4dp ranking on both engines so cross-engine
    ULP drift can't flip an ordering (same convention as q_embedding_topk)."""
    from anycrawl_spark.operators.similarity import ann_topk_lsh

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ann_topk_lsh(e, qs, dim=64, k=10, bits=4, round_dp=4)


def q_serp_enrich(spark, sf_dir):
    """J2 SERP -> scrape enrichment: parsed SERP rows left-joined with scraped
    page payloads by url (SearchController.ts:184-202). The scrape side is the
    fused fetch+extract over the SERP result URLs — the §3.3 flow end-to-end."""
    from anycrawl_spark.operators.serp import enrich_with_documents, serp_search
    from anycrawl_spark.operators.spans import fetch_extract

    ensure_dist(spark)
    qdf = spark.createDataFrame(
        [("q0", "frontier bloom dedup", 10)],
        "query_id string, query string, limit int",
    )
    serp = serp_search(qdf)
    sched = serp.select(
        F.col("query_id").alias("job_id"), "url",
        F.xxhash64("url").alias("url_hash"),
        F.lit("h").alias("host"), F.lit(0).alias("depth"),
        F.col("rank").cast("long").alias("discovery_seq"),
        F.lit(0).cast("long").alias("parent_url_hash"),
        F.lit(0).alias("round_added"), F.lit(0).alias("attempt"),
        F.lit(0.0).alias("priority"),
    ).distinct()
    docs = fetch_extract(sched).filter(F.col("status_code") == 200).select(
        "url", "title", "markdown"
    )
    return enrich_with_documents(serp, docs)


def q_serp_searxng(spark, sf_dir):
    """S12 SearXNG engine: JSON-API page-wise search with the web|images|news
    union schema (Searxng.ts:38-181 parity; fixture-backed, not
    SQL-expressible)."""
    from anycrawl_spark.operators.serp import serp_search_engine

    ensure_dist(spark)
    qdf = spark.createDataFrame(
        [("q0", "spark crawl engine", 15, "web"),
         ("q1", "frontier dedup bloom", 7, "images"),
         ("q2", "markdown extraction", 5, "news")],
        "query_id string, query string, limit int, sources string",
    )
    parts = [
        serp_search_engine(qdf.filter(F.col("sources") == src).drop("sources"),
                           engine="searxng", sources=src)
        for src in ("web", "images", "news")
    ]
    out = parts[0]
    for d in parts[1:]:
        out = out.unionByName(d)
    return out


def q_serp_ac(spark, sf_dir):
    """S3 AC-Engine: direct-limit JSON API (ACEngine.ts:23-118 parity) — one
    request per query regardless of limit."""
    from anycrawl_spark.operators.serp import serp_search_engine

    ensure_dist(spark)
    qdf = spark.createDataFrame(
        [("q0", "spark crawl engine", 25), ("q1", "frontier dedup bloom", 7)],
        "query_id string, query string, limit int",
    )
    return serp_search_engine(qdf, engine="ac", sources="web")


def q_crawl_round(spark, sf_dir):
    """The crawl loop itself through the contract: a 2-job bounded BFS on the
    synthetic web; returns the terminal frontier log (url, depth,
    discovery_seq, status per job). Deterministic; verified in depth against
    the sequential simulator by tests/test_crawl_parity.py."""
    import shutil
    import tempfile

    from anycrawl_spark import synth
    from anycrawl_spark.crawl.params import CrawlParams
    from anycrawl_spark.crawl.superstep import CrawlEngine

    import atexit

    ensure_dist(spark)
    jobs = [dict(j, limit=20) for j in synth.seed_jobs(2)]
    # The store outlives this call (the returned DataFrame reads its parquet
    # lazily), so clean up at process exit rather than in a finally block —
    # no .toPandas()/createDataFrame round-trip through the driver.
    wd = tempfile.mkdtemp(prefix="q_crawl_round_")
    atexit.register(shutil.rmtree, wd, ignore_errors=True)
    eng = CrawlEngine(spark, wd, jobs, synth.robots_rules(),
                      CrawlParams(max_rounds=20), num_buckets=8)
    eng.init_state()
    eng.run()
    log = eng.store.read_appends("frontier_log")
    return log.select("job_id", "url", "depth", "discovery_seq", "status")


def q_media_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads -> fixed-width features (REAL
    stdlib PNG/JPEG decode; only webp keeps the deterministic fake).

    Contract surface is scalar columns only — the driver canonicalizes via
    pandas sort, which cannot order an array<float> column — so the feature
    vector is exploded to (media_ref, dim, value) rows; the array-valued API
    (extract_features) stays available for pipeline use."""
    from anycrawl_spark.operators.multimodal import extract_features, materialize_media

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 50)
        .select(F.concat(F.lit("http://media.synth/img/"), F.col("doc_id")).alias("media_ref"))
    )
    media = materialize_media(refs)
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_ref",
        F.posexplode("feature").alias("dim", "value"),
        "ok",
    ).select(
        "media_ref",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("value").cast("double"), 6).alias("value"),
        "ok",
    )


def q_frame_samples(spark, sf_dir):
    """Frame sampling over the multimodal pipeline: animated-GIF payloads
    sample REAL composited frames from the stream's own GCE delays
    (functions/gif.py, emitted as PNG bytes); static/undecodable payloads
    keep the metadata-driven deterministic fake. Contract surface is scalar
    only — the binary frame is exposed as its md5 hex."""
    from anycrawl_spark.operators.multimodal import materialize_media, sample_frames

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(F.concat(F.lit("http://media.synth/img/"), F.col("doc_id")).alias("media_ref"))
    )
    media = materialize_media(refs)
    frames = sample_frames(media, every_ms=100)
    return frames.select(
        "media_ref",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        F.col("ts_ms").cast("int").alias("ts_ms"),
        F.md5("frame").alias("frame_md5"),
    )


def q_audio_features(spark, sf_dir):
    """Audio modality of the multimodal pipeline: WAV payloads (REAL
    stdlib RIFF/PCM/float decode, functions/wav.py) -> chunked-RMS energy
    features from actual decoded samples. Same contract shape as
    q_media_features: the vector explodes to (media_ref, dim, value) scalar
    rows for the driver's pandas-sort canonicalization."""
    from anycrawl_spark.operators.multimodal import extract_features, materialize_media

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(F.concat(F.lit("http://media.synth/aud/"), F.col("doc_id")).alias("media_ref"))
    )
    media = materialize_media(refs)
    feats = extract_features(media, dim=8)
    return feats.select(
        "media_ref",
        F.posexplode("feature").alias("dim", "value"),
        "ok",
    ).select(
        "media_ref",
        F.col("dim").cast("int").alias("dim"),
        F.round(F.col("value").cast("double"), 6).alias("value"),
        "ok",
    )


def q_audio_clips(spark, sf_dir):
    """Clip sampling over the audio pipeline: WAV payloads -> fixed-length
    sample windows (every 100 ms, 50 ms long), each re-encoded as a real
    16-bit-PCM WAV from the decoded samples (functions/wav.py). Contract
    surface is scalar only — the binary clip is exposed as its md5 hex,
    mirroring q_frame_samples."""
    from anycrawl_spark.operators.multimodal import materialize_media, sample_clips

    refs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 30)
        .select(F.concat(F.lit("http://media.synth/aud/"), F.col("doc_id")).alias("media_ref"))
    )
    media = materialize_media(refs)
    clips = sample_clips(media, every_ms=100, clip_ms=50)
    return clips.select(
        "media_ref",
        F.col("clip_idx").cast("int").alias("clip_idx"),
        F.col("ts_ms").cast("int").alias("ts_ms"),
        F.md5("clip").alias("clip_md5"),
    )


def q_pii_redact(spark, sf_dir):
    """PII detection + redaction (functions/pii.py): emails, payment-card
    digit runs, IPs and phone numbers planted deterministically per doc_id
    (the synthetic corpus is digit-free, so the planted spans are the only
    PII), counted per category and replaced with typed placeholders — pure
    JVM regexp column math, zero Python, zero shuffles. The redacted text
    ships as md5 so the oracle checks the REPLACEMENT bytes too, not just
    the counts."""
    from anycrawl_spark.functions.pii import PII_PATTERNS, pii_counts, redact_pii

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    m = F.col("doc_id") % 3
    plant = (
        F.when(m == 0, F.concat(
            F.lit(" reach user"), F.col("doc_id").cast("string"),
            F.lit("@mail.example.com call +1-415-555-0"),
            F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0")))
        .when(m == 1, F.concat(
            F.lit(" from 10."), (F.col("doc_id") % 250).cast("string"),
            F.lit(".0.1 pay 4111 1111 1111 "),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0")))
        .otherwise(F.lit("")))
    txt = F.concat(F.col("text"), plant)
    counts = [
        c.cast("long").alias(f"n_{cat}")
        for c, (cat, _p, _t_) in zip(pii_counts(txt), PII_PATTERNS)
    ]
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        *counts,
        F.md5(redact_pii(txt)).alias("redacted_md5"),
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontaminate.py): documents
    sharing any token 8-gram with a held-out benchmark (snippets = first 12
    tokens of every doc_id % 37 == 3 document, so each benchmark doc flags
    itself — and any verbatim duplicate — as contaminated). The benchmark
    gram set broadcasts; corpus text never shuffles — the only exchange
    carries MATCHED (doc_id, gram) rows."""
    from anycrawl_spark.operators.decontaminate import (
        contaminated_docs,
        tokens_lower,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    toks = tokens_lower(F.col("text"))
    bench = docs.filter((F.col("doc_id") % 37) == 3).select(
        F.concat_ws(" ", F.slice(toks, 1, 12)).alias("snippet")
    )
    out = contaminated_docs(docs, bench, n=8)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_contaminated_grams").cast("long").alias("n_contaminated_grams"),
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition statistics (functions/repetition.py): the
    seven exact per-document counts behind the repetition quality gate —
    token/distinct-token mass, top 1/2/3-gram occurrence counts, 5-gram
    duplicate mass. One Arrow pass in the scan stage; counts (not
    fractions) so the DuckDB mirror compares bit-exactly with no
    float-rounding dialect risk."""
    from anycrawl_spark.functions.repetition import with_repetition_stats

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    out = with_repetition_stats(d)
    r = F.col("rep")
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        r["n_tokens"].alias("n_tokens"),
        r["n_distinct_tokens"].alias("n_distinct_tokens"),
        r["top_token_count"].alias("top_token_count"),
        r["top_bigram_count"].alias("top_bigram_count"),
        r["top_trigram_count"].alias("top_trigram_count"),
        r["n_5grams"].alias("n_5grams"),
        r["n_distinct_5grams"].alias("n_distinct_5grams"),
    )


def q_normalize_text(spark, sf_dir):
    """Dedup-key text normalization (functions/normalize.py, CCNet-style):
    unicode fixture strings assigned per doc_id run through the Arrow
    kernel; the oracle carries HAND-DERIVED golden expectations per fixture
    (see NORMALIZE_FIXTURES), so the pipeline — not the kernel against
    itself — is what the comparison proves. The kernel's NFKC step is
    additionally differential-verified against java.text.Normalizer in
    tests/test_normalize.py."""
    from anycrawl_spark.functions.normalize import NORMALIZE_FIXTURES, with_normalized

    k = len(NORMALIZE_FIXTURES)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 60)
    raw = F.element_at(
        F.array(*[F.lit(r) for r, _exp in NORMALIZE_FIXTURES]),
        ((F.col("doc_id") % k) + 1).cast("int"),
    )
    df = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % k).cast("int").alias("case_id"),
        raw.alias("raw"),
    )
    return with_normalized(df, "raw", "normalized").select(
        "doc_id", "case_id", "normalized"
    )


def q_pack_manifest(spark, sf_dir):
    """Sequence packing (operators/packing.py): documents concatenated in
    doc_id order, token stream cut every 64 tokens, loader manifest emitted
    as one row per (pack, doc) slice. The global prefix sum runs as the
    TWO-PHASE distributed form (per-partition totals -> driver offsets ->
    intra-partition window) — never a single-partition global window; all
    outputs are exact integers."""
    from anycrawl_spark.operators.packing import pack_manifest

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return pack_manifest(d, budget=64).select(
        F.col("pack_id").cast("long").alias("pack_id"),
        F.col("doc_id").cast("long").alias("doc_id"),
        "doc_tok_start",
        "pack_tok_start",
        "slice_len",
    )


def q_mixture_sample(spark, sf_dir):
    """Source-mixture sampling (operators/sampling.py): deterministic
    md5-threshold sampling per source at the rates that make the kept
    corpus match target shares {src0: .5, src1: .25, src2: .15, src3: .1}
    (every other source drops to 0). The keep decision is a lexicographic
    hex-string compare, so the DuckDB oracle — which re-derives the rates
    from the same counts in SQL — matches bit-exactly with no float-
    conversion dialect risk."""
    from anycrawl_spark.operators.sampling import mixture_sample

    shares = {"src0": 0.5, "src1": 0.25, "src2": 0.15, "src3": 0.1}
    d = _t(spark, sf_dir, "documents")
    return mixture_sample(d, shares).select(
        F.col("doc_id").cast("long").alias("doc_id"), "source"
    )


def q_link_rank(spark, sf_dir):
    """Frontier link-graph centrality (operators/linkrank.py): integer-mass
    PageRank — 3 Pregel rounds over a deterministic 4-out-edge synthetic
    digraph on the first 300 docs. All mass arithmetic is exact int64 with
    per-edge floor division, so the per-destination sums are shuffle-order
    independent and the DuckDB oracle (the same rounds unrolled as CTEs)
    matches bit-exactly — float PageRank could never hash-match across
    engines because reduction order differs."""
    from anycrawl_spark.operators.linkrank import pagerank_int, synthetic_link_graph

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    edges = synthetic_link_graph(d, n_nodes=300, fanout=4)
    nodes = d.select(F.col("doc_id").alias("id"))
    return pagerank_int(edges, nodes, iterations=3).select(
        F.col("id").cast("long").alias("doc_id"),
        "rank_mass",
        "out_deg",
        "in_deg",
    )


def q_bm25_topk(spark, sf_dir):
    """First-party keyword retrieval (operators/retrieval.py): exact-
    integer BM25 top-10 for the query {join, spark, window} over the full
    documents table. All scoring is int64 (k1=6/5, b=3/4 as exact
    rationals, pre-log Robertson idf), so multi-term sums are reduction-
    order independent and the DuckDB restatement matches bit-exactly;
    ties break on doc_id so the top-k cut is deterministic too."""
    from anycrawl_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    return bm25_topk(d, ["join", "spark", "window"], k=10).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "bm25_scaled",
        "matched_terms",
    )


def q_bpe_encode(spark, sf_dir):
    """Real BPE tokenization (functions/bpe.py): merges trained by the
    Sennrich algorithm on the paper's own example corpus (bit-deterministic
    — lexicographic tie-breaks), fixture words assigned per doc_id and
    encoded through the Arrow kernel. The oracle carries HAND-DERIVED
    golden piece sequences (each merge traced in the BPE_FIXTURES
    docstring), so the pipeline — not the kernel against itself — is what
    the comparison proves."""
    from anycrawl_spark.functions.bpe import (
        BPE_FIXTURES,
        SENNRICH_CORPUS,
        bpe_pieces,
        train_bpe,
    )

    merges = train_bpe(SENNRICH_CORPUS, 5)
    k = len(BPE_FIXTURES)
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 45)
    word = F.element_at(
        F.array(*[F.lit(w) for w, _exp in BPE_FIXTURES]),
        ((F.col("doc_id") % k) + 1).cast("int"),
    )
    df = d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        (F.col("doc_id") % k).cast("int").alias("case_id"),
        word.alias("word"),
    )
    pieces = bpe_pieces(F.col("word"), merges)
    return df.select(
        "doc_id",
        "case_id",
        "word",
        F.concat_ws(" ", pieces).alias("pieces"),
        F.size(pieces).cast("long").alias("n_pieces"),
    )


def q_anchor_terms(spark, sf_dir):
    """Inbound anchor-text aggregation (operators/anchors.py): the
    synthetic link graph on the first 200 docs, each edge carrying the
    source doc's 3-token excerpt as its anchor; per target, the top-3
    anchor terms by count with lexicographic tie-break. Counts and ranks
    are exact integers; the window's rank cut is pushed map-side
    (WindowGroupLimit, plan-checked)."""
    from anycrawl_spark.operators.anchors import edge_anchors_from_docs, top_anchor_terms
    from anycrawl_spark.operators.linkrank import synthetic_link_graph

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    edges = synthetic_link_graph(d, n_nodes=200, fanout=4)
    anchors = edge_anchors_from_docs(edges, d, n_words=3)
    return top_anchor_terms(anchors, k=3).select(
        F.col("target_id").cast("long").alias("target_id"), "term", "cnt", "rnk"
    )


def q_curriculum_buckets(spark, sf_dir):
    """Length-curriculum deciles (operators/curriculum.py): every doc's
    exact rank and decile within its source under (token count, doc_id) —
    computed the two-phase histogram way (never a whole-source sort
    window), bit-equal to the oracle's plain row_number restatement."""
    from anycrawl_spark.operators.curriculum import curriculum_buckets

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "source",
        TX.token_count(F.col("text")).cast("long").alias("n_tokens"),
    )
    return curriculum_buckets(d, "n_tokens", n_buckets=10).select(
        "doc_id", "source", "n_tokens", "rank", "bucket"
    )


def q_warc_manifest(spark, sf_dir):
    """WARC/1.1 archival manifest (functions/warc.py + sources/warc.py):
    every document as a response record — deterministic record URI,
    md5-labelled block digest, exact serialized byte length (the
    sha1-base32 payload digest has constant width, so length math stays
    pure JVM), and the record's byte offset within its host segment
    (cumsum window per segment, offsets relative to the first response
    record; the writer reports warcinfo_len separately). The oracle
    restates the whole header grammar as SQL string math."""
    from anycrawl_spark.sources.warc import warc_manifest

    sec = (F.col("doc_id") * 977) % 86400
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.concat(
            F.lit("http://h"),
            (F.col("doc_id") % 40).cast("string"),
            F.lit(".example/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(
            F.lit("h"), (F.col("doc_id") % 40).cast("string"), F.lit(".example")
        ).alias("segment"),
        F.concat(
            F.lit("2026-08-20T"),
            two(F.floor(sec / 3600)),
            F.lit(":"),
            two(F.floor(sec / 60) % 60),
            F.lit(":"),
            two(sec % 60),
            F.lit("Z"),
        ).alias("warc_date"),
    )
    return warc_manifest(d).select(
        "doc_id",
        "url",
        "segment",
        "warc_date",
        "record_id",
        "block_digest",
        "content_length",
        "record_len",
        F.col("offset").alias("byte_offset"),
    )


def q_cdx_index(spark, sf_dir):
    """CDX capture index over the WARC layer (functions/surt.py +
    sources/warc.py cdx_index): every document becomes a capture row
    keyed by its SURT (host labels reversed, www stripped, default ports
    dropped, query params sorted, fragment dropped — all pure JVM string
    math) with the 14-digit CDX timestamp and the record's ABSOLUTE byte
    position in its .warc segment (warcinfo framing included via the
    constant-width warcinfo length argument). URLs are deliberately
    messy — mixed case, www/no-www, default/explicit ports, unsorted
    query params, trailing '?', fragments — so the oracle restates the
    whole canonicalization, not just the happy path."""
    from anycrawl_spark.sources.warc import cdx_index

    did = F.col("doc_id")
    sec = (did * 977) % 86400
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    url = F.concat(
        F.when(did % 3 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(did % 2 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.lit("H"), (did % 40).cast("string"), F.lit(".Example.ORG"),
        F.when(did % 5 == 0, F.lit(":8080"))
        .when(did % 5 == 1, F.lit(":80"))
        .when(did % 5 == 2, F.lit(":443"))
        .otherwise(F.lit("")),
        F.lit("/Page/"), did.cast("string"),
        F.when(did % 4 == 0, F.concat(F.lit("?b="), did.cast("string"), F.lit("&a=1&A=2")))
        .when(did % 4 == 1, F.lit("?z=9"))
        .when(did % 4 == 2, F.lit("?"))
        .otherwise(F.lit("")),
        F.when(did % 7 == 0, F.lit("#Sec-2")).otherwise(F.lit("")),
    )
    d = _t(spark, sf_dir, "documents").select(
        "text",
        url.alias("url"),
        F.concat(F.lit("h"), (did % 40).cast("string"), F.lit(".example")).alias(
            "segment"
        ),
        F.concat(
            F.lit("2026-08-20T"),
            two(F.floor(sec / 3600)), F.lit(":"),
            two(F.floor(sec / 60) % 60), F.lit(":"),
            two(sec % 60), F.lit("Z"),
        ).alias("warc_date"),
    )
    return cdx_index(d)


def q_recrawl_priority(spark, sf_dir):
    """Recrawl scheduling (operators/freshness.py; Cho & Garcia-Molina
    revisit policy in exact fixed point): the events table reinterpreted
    as a visit history (user_id = url, event_id = visit seq, content
    digest synthesized by deterministic int mixing), per-URL change
    rates from a lag window, staleness priority = rate × age, and the
    per-host top-5 refresh batch with deterministic tie-breaks."""
    from anycrawl_spark.operators.freshness import (
        recrawl_batch,
        recrawl_priorities,
        visit_change_stats,
    )

    visits = _t(spark, sf_dir, "events").select(
        F.col("user_id").cast("long").alias("url_id"),
        F.col("event_id").cast("long").alias("seq"),
        (((F.col("event_id") % 7) * F.lit(2654435761)) % 13)
        .cast("string")
        .alias("digest"),
    )
    stats = visit_change_stats(visits)
    pri = recrawl_priorities(stats, horizon_seq=10000).withColumn(
        "host", F.concat(F.lit("h"), (F.col("url_id") % 20).cast("string"))
    )
    return recrawl_batch(pri, k=5).select(
        "host",
        "url_id",
        "n_visits",
        "n_changes",
        "last_seq",
        "rate_scaled",
        "age",
        "priority",
        "rnk",
    )


def q_frontier_sharding(spark, sf_dir):
    """Rendezvous-hash frontier sharding (operators/sharding.py): 500
    synthetic hosts assigned to 16 shards by HRW argmax (a pure
    greatest-of-structs projection, zero exchanges for the assignment),
    then the 16→17 resize accounting per new shard — HRW's minimal-
    disruption property shows up as n_moved_in = 0 for every surviving
    shard (only shard 16 receives movers)."""
    from anycrawl_spark.operators.sharding import resize_stats

    hosts = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("h"), F.col("doc_id").cast("string"), F.lit(".example.net")
        ).alias("host")
    )
    return resize_stats(hosts, n_old=16, n_new=17).select(
        F.col("shard").cast("long").alias("shard"),
        "n_hosts_new",
        "n_stayed",
        "n_moved_in",
    )


def q_trap_signals(spark, sf_dir):
    """Crawl-trap detection (operators/traps.py): 30 synthetic hosts in
    three behavior classes — normal (/p/id), path-loop (/a/x/a/y/a/z:
    segment 'a' three times → the repeat signature), and param-explosion
    (?x=id&y=1&z=2) — aggregated into per-host depth/repeat/param
    signals, boolean gates, and the integer trap score. The engine
    detects repeats via sorted-adjacency zip_with (no explode); the
    oracle uses the relational UNNEST+HAVING form."""
    from anycrawl_spark.operators.traps import trap_signals

    did = F.col("doc_id")
    k = did % 30
    url = F.concat(
        F.lit("http://trap"), k.cast("string"), F.lit(".example"),
        F.when(
            k % 3 == 0, F.concat(F.lit("/p/"), did.cast("string"))
        )
        .when(
            k % 3 == 1,
            F.concat(
                F.lit("/a/"), (did % 5).cast("string"),
                F.lit("/a/"), did.cast("string"),
                F.lit("/a/x"),
            ),
        )
        .otherwise(
            F.concat(F.lit("/q?x="), did.cast("string"), F.lit("&y=1&z=2"))
        ),
    )
    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("trap"), k.cast("string"), F.lit(".example")).alias("host"),
        url.alias("url"),
    )
    return trap_signals(d).select(
        "host", "n_urls", "max_depth", "n_repeat_urls", "params_x100",
        "deep", "repeaty", "paramy", "trap_score",
    )


def q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (operators/compaction.py): a
    synthetic snapshot manifest — 8 table partitions, file sizes from
    deterministic int mixing with every 11th file already target-sized —
    packed next-fit toward 4 MB bins with 2 MB as the small-file
    threshold. Output is the file-level plan (prefix KB + bin; -1 =
    leave in place)."""
    from anycrawl_spark.operators.compaction import compaction_plan

    did = F.col("doc_id")
    manifest = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("p"), (did % 8).cast("string")).alias("partition"),
        did.cast("long").alias("file_id"),
        F.when(did % 11 == 0, ((did * 37) % 3000) + 4096)
        .otherwise(((did * 7919) % 1990) + 10)
        .cast("long")
        .alias("kb"),
    )
    return compaction_plan(manifest, target_kb=4096, small_kb=2048).select(
        "partition", "file_id", "kb", "cum_before", "bin"
    )


def q_snapshot_diff(spark, sf_dir):
    """Snapshot content diffing (operators/diffing.py): the documents
    table as crawl N, a deterministic mutation of it as crawl N+1 —
    doc_id%3==0 unchanged, %3==1 suffix-appended, %3==2 head-truncated
    and suffixed — diffed as distinct token-3-gram sets into exact
    added/removed/common counts and the scaled Jaccard distance."""
    from anycrawl_spark.operators.diffing import snapshot_diff

    did = F.col("doc_id")
    base = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("u"), did.cast("string")).alias("url"), "text", did.alias("_id")
    )
    old = base.select("url", "text")
    new = base.select(
        "url",
        F.when(F.col("_id") % 3 == 0, F.col("text"))
        .when(
            F.col("_id") % 3 == 1,
            F.concat(F.col("text"), F.lit(" fresh update section "),
                     F.col("_id").cast("string")),
        )
        .otherwise(
            F.concat(F.substring(F.col("text"), 15, 1000000),
                     F.lit(" tail note "), F.col("_id").cast("string"))
        )
        .alias("text"),
    )
    return snapshot_diff(old, new)


def q_fair_alloc(spark, sf_dir):
    """Max-min fair capacity allocation (operators/fairshare.py): 25
    hosts with deterministic capacities, each contested by the jobs
    whose doc_id maps there, demands from int mixing (including zero
    demands and over-subscribed hosts). Closed-form water-filling in
    pure window math; alloc/fully_served are exact integers."""
    from anycrawl_spark.operators.fairshare import fairshare_alloc

    did = F.col("doc_id")
    demands = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("h"), (did % 25).cast("string")).alias("host"),
        did.cast("long").alias("job_id"),
        (((did * 7919) % 97)).cast("long").alias("demand"),
        (F.lit(100) + ((did % 25) * 53) % 400).cast("long").alias("capacity"),
    )
    return fairshare_alloc(demands)


def q_latency_percentiles(spark, sf_dir):
    """Exact per-group percentiles (operators/quantiles.py): synthetic
    fetch latencies (deterministic int mixing) grouped by event_type,
    exact nearest-rank p50/p90/p99 via the two-phase histogram — never a
    global sort, never approxQuantile's seed-dependent error."""
    from anycrawl_spark.operators.quantiles import exact_percentiles

    d = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("grp"),
        ((F.col("event_id") * 37) % 1000).cast("long").alias("value"),
    )
    return exact_percentiles(d, [50, 90, 99]).select(
        "grp", "p", "n", "rank_needed", "q_value"
    )


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (operators/sessions.py): the events
    table cut into 30-minute-gap sessions per user — the batch
    gaps-and-islands form of the session windows the streaming layer
    models; exact integer epoch math, per-session rollups."""
    from anycrawl_spark.operators.sessions import session_stats

    return session_stats(
        _t(spark, sf_dir, "events"), gap_s=1800, key_col="user_id"
    ).select(
        F.col("key").cast("long").alias("user_id"),
        "session_seq",
        "n_events",
        "start_s",
        "end_s",
        "duration_s",
    )


def q_aimd_rates(spark, sf_dir):
    """AIMD rate adaptation (operators/aimd.py): 25 hosts × 6 rounds of
    synthetic throttle outcomes (deterministic int mixing), evolved
    through the additive-increase/multiplicative-decrease recurrence as
    ONE higher-order fold per host — no per-round joins, no python. The
    oracle unrolls the same 6 rounds as chained CTEs."""
    from anycrawl_spark.operators.aimd import aimd_rates

    did = F.col("doc_id")
    rounds = (
        _t(spark, sf_dir, "documents")
        .filter(did < 150)
        .select(
            F.concat(F.lit("h"), (did % 25).cast("string")).alias("host"),
            (did / 25).cast("long").alias("round"),
            (((did % 25) * 7 + (did / 25).cast("long") * 13) % 5 == 0)
            .cast("long")
            .alias("throttled"),
        )
    )
    return aimd_rates(rounds, init=8, incr=2, cap=64, floor_min=1)


def q_bitext_pairs(spark, sf_dir):
    """Bitext candidate mining (operators/bitext.py; STRAND-style):
    20 synthetic sites × page groups of three language editions
    (en/de/fr path segments; every 17th doc gets a no-marker URL and
    drops out), self-joined on the wildcarded key with the exact-integer
    STRAND length-ratio filter."""
    from anycrawl_spark.operators.bitext import bitext_candidates

    did = F.col("doc_id")
    lang = (
        F.when(did % 3 == 0, F.lit("en"))
        .when(did % 3 == 1, F.lit("de"))
        .otherwise(F.lit("fr"))
    )
    grp = F.floor(did / 3).cast("long")
    d = _t(spark, sf_dir, "documents").select(
        F.concat(
            F.lit("http://site"), (grp % 20).cast("string"), F.lit(".example/"),
            F.when(did % 17 == 0, F.lit("nolang")).otherwise(lang),
            F.lit("/page/"), grp.cast("string"),
        ).alias("url"),
        "text",
    )
    return bitext_candidates(d, min_ratio_x100=50)


def q_index_delta(spark, sf_dir):
    """Incremental index maintenance (operators/index_maintenance.py):
    base index = docs 0-399; the round tombstones every 10th base doc,
    re-adds every 20th with ' updated revision' appended, and adds docs
    400+. The ENGINE path adjusts (term, df, sum_tf) arithmetically from
    the delta; the ORACLE is the batch rebuild over the effective corpus
    — the hash gate checks incremental == batch."""
    from anycrawl_spark.operators.index_maintenance import (
        incremental_rollup,
        postings_rollup,
    )
    from anycrawl_spark.operators.retrieval import inverted_index

    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    base_docs = docs.filter(did < 400).select("doc_id", "text")
    tombstones = base_docs.filter(did % 10 == 0).select("doc_id")
    readds = (
        docs.filter((did < 400) & (did % 20 == 0))
        .select("doc_id", F.concat("text", F.lit(" updated revision")).alias("text"))
    )
    fresh = docs.filter(did >= 400).select("doc_id", "text")
    base_postings = inverted_index(base_docs)
    delta_postings = inverted_index(readds.unionByName(fresh))
    return incremental_rollup(
        postings_rollup(base_postings), base_postings, delta_postings, tombstones
    )


def q_variant_clusters(spark, sf_dir):
    """URL variant folding (operators/variants.py): page groups of four
    presentation variants — clean, www.+utm, m.+gclid (every 5th group
    keeps a REAL color= param that must survive), and index.html or
    /amp twins — folded to canonical keys and clustered. Expected
    cluster sizes: 4, or 3+1 where the surviving param forks the key."""
    from anycrawl_spark.operators.variants import variant_clusters

    did = F.col("doc_id")
    k = F.floor(did / 4).cast("long")
    v = did % 4
    host = F.concat(
        F.when(v == 1, F.lit("www.")).when(v == 2, F.lit("m.")).otherwise(F.lit("")),
        F.lit("shop"), (k % 15).cast("string"), F.lit(".example"),
    )
    path = F.when(
        k % 2 == 0,
        F.concat(
            F.lit("/p/"), k.cast("string"),
            F.when(v == 3, F.lit("/index.html")).otherwise(F.lit("/")),
        ),
    ).otherwise(
        F.concat(
            F.lit("/item/"), k.cast("string"),
            F.when(v == 3, F.lit("/amp")).otherwise(F.lit("")),
        )
    )
    query = (
        F.when(v == 1, F.lit("?utm_source=x&utm_campaign=y"))
        .when(
            v == 2,
            F.concat(
                F.lit("?gclid="), did.cast("string"),
                F.when(k % 5 == 0, F.lit("&color=red")).otherwise(F.lit("")),
            ),
        )
        .when(v == 3, F.lit("?ref=tw"))
        .otherwise(F.lit(""))
    )
    d = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("http://"), host, path, query).alias("url")
    )
    return variant_clusters(d)


def q_source_overlap(spark, sf_dir):
    """Cross-source duplication matrix (operators/dedup.py
    source_overlap): the q_near_duplicates fixture with source labels —
    base docs keep their corpus source, the mutated copies land in a
    synthetic 'recrawl' source — rolled up to (src_lo, src_hi, n_pairs).
    Same max-recall banding convention as q_near_duplicates, so the
    exact all-pairs oracle value-checks the LSH path end to end."""
    from anycrawl_spark.operators.dedup import near_duplicates, source_overlap

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30).select(
        "doc_id", "text", "source"
    )
    toks = TX.tokens(F.col("text"))
    mutated = d.select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 3, F.lit(1)))
        ).alias("text"),
        F.lit("recrawl").alias("source"),
    )
    alldocs = d.unionByName(mutated)
    pairs = near_duplicates(
        alldocs.select("doc_id", "text"), threshold=0.5, bands=12
    ).select("id_a", "id_b")
    return source_overlap(pairs, alldocs)


def q_retention_plan(spark, sf_dir):
    """Snapshot retention planning (operators/retention.py): 200
    synthetic snapshots spread over ~6 weeks (irregular spacing via int
    mixing), tiered keep-last-5 / daily-7 / weekly-4 policy, every
    decision an exact integer."""
    from anycrawl_spark.operators.retention import retention_plan

    did = F.col("doc_id")
    now_s = 1_700_000_000
    snaps = _t(spark, sf_dir, "documents").filter(did < 200).select(
        did.cast("long").alias("snapshot_id"),
        (
            F.lit(now_s)
            - (did * 17995 + (did * did % 4999)).cast("long")
        ).alias("ts_s"),
    )
    return retention_plan(
        snaps, now_s=now_s, keep_last=5, keep_days=7, keep_weeks=4
    )


def q_duplicate_passages(spark, sf_dir):
    """Passage-level exact-substring dedup (fifth dedup family; Lee et al.
    2021 ExactSubstr recast as window-fingerprint groupBy): duplicated
    8-token windows at stride 4 across the first 200 docs.

    NOT in the driver contract — the contract is deliberately capped at the
    driver's 50-entry check window (VERDICT r3 ask #1); this query lives in
    EXTRA_QUERIES and is oracle-verified by the same local gate
    (verify_against_duckdb / tests/test_queries_oracle.py)."""
    from anycrawl_spark.operators.dedup import duplicate_passages

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return duplicate_passages(docs, window=8, stride=4, min_count=2, digest="md5")


def q_dup_clusters(spark, sf_dir):
    """Near-dup pairs resolved into duplicate CLUSTERS (connected components
    via hash-min label propagation, ``operators/dedup.duplicate_clusters``) —
    the keep/drop decision stage of the dedup pipeline. The planted corpus
    forms 3-doc components: doc i (<20) gets a -3-token mutation at i+10000
    and a -6-token mutation at i+20000, so {i, i+10000, i+20000} must
    assemble into ONE cluster (transitively, even where an individual edge
    is sub-threshold), cluster_id = i, is_canonical only on i.

    NOT in the driver contract — the contract is capped at the driver's
    50-entry check window (VERDICT r3 ask #1); verified by the local oracle
    gate (verify_against_duckdb / tests/test_queries_oracle.py) against a
    DuckDB recursive-CTE transitive closure."""
    from anycrawl_spark.operators.dedup import duplicate_clusters, near_duplicates

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 20).select("doc_id", "text")
    toks = TX.tokens(F.col("text"))

    def _mut(offset: int, drop: int):
        return d.select(
            (F.col("doc_id") + offset).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(toks, 1, F.greatest(F.size(toks) - drop, F.lit(1)))
            ).alias("text"),
        )

    corpus = d.unionByName(_mut(10000, 3)).unionByName(_mut(20000, 6))
    pairs = near_duplicates(corpus, threshold=0.5, bands=12)
    return duplicate_clusters(pairs)


# Exact all-pairs restatement of the same pipeline + WITH RECURSIVE
# transitive closure: components = min reachable id per vertex.
SQL_DUP_CLUSTERS = r"""
WITH RECURSIVE base AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 20),
tokd AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM base),
mut1 AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(tk[1:greatest(len(tk) - 3, 1)], ' ') AS text FROM tokd),
mut2 AS (
  SELECT doc_id + 20000 AS doc_id,
         array_to_string(tk[1:greatest(len(tk) - 6, 1)], ' ') AS text FROM tokd),
alldocs AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT doc_id, text FROM mut1
  UNION ALL SELECT doc_id, text FROM mut2),
sh AS (
  SELECT doc_id,
         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
                                 FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)])
         END AS sh
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> x <> '') AS tk
        FROM alldocs)),
pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  WHERE round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
              / greatest(len(list_distinct(list_concat(a.sh, b.sh))), 1), 4)
        >= 0.5),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN sizes s USING (cluster_id)
"""


def q_star_clusters(spark, sf_dir):
    """Connected components via alternating large-star/small-star
    (``dedup.connected_components_star``, Kiveris et al. 2014) — the
    O(log n)-round variant for adversarially long duplicate chains that
    hash-min label propagation (q_dup_clusters) cannot finish within its
    round budget. Planted topology: doc_ids 0..127 form 4 path components
    of 32 vertices each (diameter 31 — beyond label-prop's default
    25-round budget) plus intra-block shortcut edges (i, i+16) for
    i%32<8, so the oracle's transitive closure must cross cycles too.
    Oracle: DuckDB WITH RECURSIVE transitive closure, min-reachable-id
    per vertex (same convention as q_dup_clusters)."""
    from anycrawl_spark.operators.dedup import connected_components_star

    d = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 128)
    chain = d.filter(F.col("doc_id") % 32 != 31).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1).alias("id_b")
    )
    cross = d.filter(F.col("doc_id") % 32 < 8).select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 16).alias("id_b")
    )
    return connected_components_star(chain.unionByName(cross))


def q_hll_hosts(spark, sf_dir):
    """Mergeable HyperLogLog cardinality (``operators/sketches.py``,
    Flajolet et al. 2007) — distinct user_id per event_type as a
    64-register sketch, next to the exact distinct for accuracy reading.
    The hash is the repo's 60-bit md5 convention so DuckDB rebuilds the
    IDENTICAL registers; the harmonic sum is carried as an exact bigint
    (S = sum 2^(55-M_j)) so no float-accumulation order can diverge
    between engines — the only floats are one division and the
    small-range log, rounded to 4."""
    from anycrawl_spark.operators.sketches import hll_cardinality

    ev = _t(spark, sf_dir, "events")
    card = hll_cardinality(ev, ["event_type"], "user_id", p=6)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return card.join(exact, "event_type")


def q_phrase_search(spark, sf_dir):
    """Exact phrase query from positional postings
    (``retrieval.phrase_search``): docs containing the 3-token phrase
    "value table part", with occurrence counts and first positions. The
    Spark side is the positional-index anchor-vote plan (postings pruned
    to phrase terms in the scan stage, one groupBy((doc, anchor))); the
    oracle is a DIFFERENT algorithm — a direct sliding-window scan over
    the token arrays — so agreement checks the plan, not just the
    arithmetic."""
    from anycrawl_spark.operators.retrieval import phrase_search

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return phrase_search(d, ["value", "table", "part"])


SQL_PHRASE_SEARCH = r"""
WITH t AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     x -> x <> '') AS tk
  FROM documents WHERE doc_id < 300),
hits AS (
  SELECT doc_id,
         list_filter(range(1, greatest(len(tk) - 2, 0) + 1),
                     a -> tk[a] = 'value' AND tk[a + 1] = 'table'
                          AND tk[a + 2] = 'part') AS anchors
  FROM t)
SELECT doc_id,
       CAST(len(anchors) AS BIGINT) AS n_occurrences,
       CAST(list_min(anchors) AS BIGINT) AS first_pos
FROM hits WHERE len(anchors) > 0
"""


def q_quantized_topk(spark, sf_dir):
    """Int8-quantized two-stage ANN (``similarity.quantized_topk``):
    candidate ranking by integer-dot-product quantized cosine over the
    4x-smaller qvec column (the scale cancels — no floats in the scan
    ranking beyond one division), exact rescoring of k*3 candidates,
    final top-10 in the q_embedding_topk contract. Quantization and
    both ranking stages are fully mirrored in DuckDB."""
    from anycrawl_spark.operators.similarity import quantized_topk

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    qs = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return quantized_topk(e, qs, k=10, refine_factor=3, round_dp=4)


SQL_QUANTIZED_TOPK = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
qz AS (
  SELECT vec_id, emb,
         list_transform(emb, x -> CAST(round(x / greatest(amax, 1e-12) * 127.0)
                                       AS BIGINT)) AS qvec
  FROM (SELECT vec_id, emb,
               list_max(list_transform(emb, x -> abs(x))) AS amax
        FROM v)),
qq AS (SELECT vec_id AS query_id, qvec AS qv FROM qz WHERE vec_id < 5),
appx AS (
  SELECT q.query_id, z.vec_id,
         list_dot_product(z.qvec, q.qv)
         / sqrt(greatest(CAST(list_dot_product(z.qvec, z.qvec)
                              * list_dot_product(q.qv, q.qv) AS DOUBLE), 1e-12))
           AS qcos
  FROM qz z CROSS JOIN qq q),
cand AS (
  SELECT query_id, vec_id
  FROM (SELECT query_id, vec_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY qcos DESC, vec_id ASC) AS rn
        FROM appx)
  WHERE rn <= 30),
resc AS (
  SELECT c.query_id, c.vec_id,
         round(list_dot_product(v.emb, q2.emb) /
               greatest(sqrt(list_dot_product(v.emb, v.emb)) *
                        sqrt(list_dot_product(q2.emb, q2.emb)), 1e-12), 4) AS cosine
  FROM cand c
  JOIN v ON v.vec_id = c.vec_id
  JOIN v q2 ON q2.vec_id = c.query_id),
r AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM resc)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 10
"""


def q_cms_hosts(spark, sf_dir):
    """Count-min sketch frequency state (``operators/cms.py``, Cormode &
    Muthukrishnan 2005) — per event_type, a 4x256 sketch over user_id,
    read back with point queries for a present key (42) and an absent
    one (999999), next to the exact counts. All integer math; DuckDB
    rebuilds identical cells, so estimates match exactly. The CMS
    guarantee shows up as est >= exact (never under), with the absent
    key's estimate = its rows' collision noise."""
    from anycrawl_spark.operators.cms import cms_query, cms_sketch

    ev = _t(spark, sf_dir, "events")
    sk = cms_sketch(ev, ["event_type"], "user_id")
    exact = ev.groupBy("event_type").agg(
        F.count("*").cast("long").alias("total"),
        F.sum((F.col("user_id") == 42).cast("long")).alias("exact_42"),
        F.sum((F.col("user_id") == 999999).cast("long")).alias("exact_absent"),
    )
    return sk.join(exact, "event_type").select(
        "event_type",
        "total",
        "exact_42",
        cms_query(F.col("sketch"), F.lit(42)).alias("est_42"),
        "exact_absent",
        cms_query(F.col("sketch"), F.lit(999999)).alias("est_absent"),
    )


def _sql_cms_hosts() -> str:
    import hashlib as _hl

    def h60(prefix: str) -> str:
        return " + ".join(
            f"(strpos('0123456789abcdef', substring(md5('{prefix}' || CAST(user_id AS VARCHAR)), {i}, 1)) - 1)"
            f" * {16 ** (15 - i)}"
            for i in range(1, 16)
        )

    def kcell(row: int, key: int) -> int:
        return int(_hl.md5(f"cms{row}|{key}".encode()).hexdigest()[:15], 16) % 256

    cols = ",\n         ".join(
        f"CAST({h60(f'cms{r}|')} AS BIGINT) % 256 AS c{r}" for r in range(4)
    )
    est_terms = {
        name: ", ".join(
            f"coalesce((SELECT n FROM counts{r} x WHERE x.event_type = t.event_type"
            f" AND x.col = {kcell(r, key)}), 0)"
            for r in range(4)
        )
        for name, key in (("est_42", 42), ("est_absent", 999999))
    }
    counts = "\n".join(
        f"counts{r} AS (SELECT event_type, c{r} AS col, CAST(count(*) AS BIGINT) AS n"
        f" FROM cells GROUP BY 1, 2),"
        for r in range(4)
    )
    return f"""
WITH cells AS (
  SELECT event_type, user_id,
         {cols}
  FROM events),
{counts}
t AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS total,
         CAST(sum(CASE WHEN user_id = 42 THEN 1 ELSE 0 END) AS BIGINT) AS exact_42,
         CAST(sum(CASE WHEN user_id = 999999 THEN 1 ELSE 0 END) AS BIGINT) AS exact_absent
  FROM events GROUP BY 1)
SELECT event_type, total, exact_42,
       least({est_terms['est_42']}) AS est_42,
       exact_absent,
       least({est_terms['est_absent']}) AS est_absent
FROM t
"""


SQL_CMS_HOSTS = _sql_cms_hosts()


def q_stratified_split(spark, sf_dir):
    """Exact-quota deterministic train/val/test split per source stratum
    (``sampling.stratified_split``): positions in (md5(doc_id), doc_id)
    hash order, first 20 per source -> val, next 10 -> test, rest train.
    The Spark side decomposes the rank into bucket offsets + in-bucket
    windows (no mega-partition); the oracle is the straight window
    restatement — both must agree row-for-row because bucket order is a
    prefix of hash order."""
    from anycrawl_spark.operators.sampling import stratified_split

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 400).select(
        "doc_id", "source"
    )
    return stratified_split(d, n_val=20, n_test=10)


def _sql_stratified_split() -> str:
    h60 = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), {i}, 1)) - 1)"
        f" * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return f"""
WITH d AS (SELECT doc_id, source FROM documents WHERE doc_id < 400),
h AS (SELECT doc_id, source, CAST({h60} AS BIGINT) AS h FROM d),
p AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS pos
      FROM h)
SELECT doc_id, source,
       CASE WHEN pos <= 20 THEN 'val'
            WHEN pos <= 30 THEN 'test'
            ELSE 'train' END AS split
FROM p
"""


SQL_STRATIFIED_SPLIT = _sql_stratified_split()


def q_incremental_dedup(spark, sf_dir):
    """Incremental near-dup detection of a NEW crawl slice against the
    EXISTING corpus from persisted signature state alone
    (``dedup.incremental_near_duplicates``): the old side is its
    (id, seed, minhash) table — never re-shingled, never re-read. New
    slice = last-2-token mutations of docs 0..9 (planted near-dups,
    ids +10000) plus untouched docs 100..109 (ids +20000, expected
    mostly pair-free). Candidates via band-bucket join against the
    stored index; verification via the MinHash seed-agreement estimator
    (resolution 1/12)."""
    from anycrawl_spark.operators.dedup import (
        incremental_near_duplicates,
        minhash_signatures,
    )

    d = _t(spark, sf_dir, "documents")
    old = d.filter(F.col("doc_id") < 100).select("doc_id", "text")
    toks = TX.tokens(F.col("text"))
    muts = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat_ws(
            " ", F.slice(toks, 1, F.greatest(F.size(toks) - 2, F.lit(1)))
        ).alias("text"),
    )
    fresh = d.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 110)).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    new = muts.unionByName(fresh)
    return incremental_near_duplicates(
        minhash_signatures(new), minhash_signatures(old), threshold=0.5
    )


SQL_INCREMENTAL_DEDUP = r"""
WITH olddocs AS (
  SELECT doc_id, text FROM documents WHERE doc_id < 100),
newdocs AS (
  SELECT doc_id + 10000 AS doc_id,
         array_to_string(tk[1:greatest(len(tk) - 2, 1)], ' ') AS text
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        FROM documents WHERE doc_id < 10)
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text
  FROM documents WHERE doc_id >= 100 AND doc_id < 110),
shing AS (
  SELECT side, doc_id,
         CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
              ELSE list_distinct([array_to_string(tk[i:i+2], ' ')
                                 FOR i IN range(1, greatest(len(tk) - 2, 1) + 1)])
         END AS sh
  FROM (SELECT 'new' AS side, doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> x <> '') AS tk
        FROM newdocs
        UNION ALL
        SELECT 'old', doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> x <> '')
        FROM olddocs)),
sigs AS (
  SELECT side, doc_id, seed,
         list_min(list_transform(sh, x -> md5(seed || '|' || x))) AS minhash
  FROM shing CROSS JOIN (SELECT unnest(range(12)) AS seed)),
bands AS (
  SELECT side, doc_id, seed // 3 AS band,
         md5(array_to_string(list_sort(list(minhash)), '|')) AS band_hash
  FROM sigs GROUP BY side, doc_id, seed // 3),
cand AS (
  SELECT DISTINCT n.doc_id AS new_id, o.doc_id AS old_id
  FROM bands n JOIN bands o ON n.band = o.band AND n.band_hash = o.band_hash
  WHERE n.side = 'new' AND o.side = 'old'),
agree AS (
  SELECT c.new_id, c.old_id,
         round(sum(CASE WHEN ns.minhash = os.minhash THEN 1 ELSE 0 END) / 12.0, 4)
           AS est_jaccard
  FROM cand c
  JOIN sigs ns ON ns.side = 'new' AND ns.doc_id = c.new_id
  JOIN sigs os ON os.side = 'old' AND os.doc_id = c.old_id AND os.seed = ns.seed
  GROUP BY 1, 2)
SELECT * FROM agree WHERE est_jaccard >= 0.5
"""


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weighting (``operators/dsir.py``, Xie et al. 2023)
    — hashed-bigram distribution fits for TARGET (lang='en') vs RAW
    (everything), micro-log integer ratios, exact-bigint per-document
    weights, top-25 selection. Every weight is an integer dot product
    (no FP accumulation order anywhere), so DuckDB reproduces the full
    pipeline bit-for-bit including the ranking."""
    from anycrawl_spark.operators.dsir import (
        dsir_log_ratios,
        dsir_select,
        dsir_weights,
        hashed_feature_counts,
    )

    B = 4096
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    target = d.filter(F.col("lang") == "en")
    ratios = dsir_log_ratios(
        hashed_feature_counts(target, B), hashed_feature_counts(d, B), B
    )
    return dsir_select(dsir_weights(d, ratios, B), 25)


def _sql_dsir_weights() -> str:
    h60 = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(bg), {i}, 1)) - 1) * {16 ** (15 - i)}"
        for i in range(1, 16)
    )
    return f"""
WITH d AS (
  SELECT doc_id, lang, {_SQL_TOKS} AS tk
  FROM documents WHERE doc_id < 2000),
big AS (
  SELECT doc_id, lang,
         unnest(list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])) AS bg
  FROM d WHERE len(tk) >= 2),
buck AS (
  SELECT doc_id, lang, CAST({h60} AS BIGINT) % 4096 AS bucket FROM big),
tgt AS (SELECT bucket, count(*) AS t_n FROM buck WHERE lang = 'en' GROUP BY 1),
raw AS (SELECT bucket, count(*) AS r_n FROM buck GROUP BY 1),
fullb AS (
  SELECT coalesce(t.bucket, r.bucket) AS bucket,
         coalesce(t_n, 0) AS t_n, coalesce(r_n, 0) AS r_n
  FROM tgt t FULL JOIN raw r ON t.bucket = r.bucket),
tot AS (SELECT sum(t_n) AS T, sum(r_n) AS R FROM fullb),
ratios AS (
  SELECT bucket,
         CAST(round((ln((t_n + 1) / (T + 4096.0)) - ln((r_n + 1) / (R + 4096.0)))
                    * 1000000) AS BIGINT) AS logr_micro
  FROM fullb CROSS JOIN tot),
feat AS (
  SELECT doc_id, bucket, count(*) AS n FROM buck GROUP BY 1, 2),
w AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_features,
         CAST(sum(n * logr_micro) AS BIGINT) AS weight_micro
  FROM feat JOIN ratios USING (bucket) GROUP BY 1),
ranked AS (
  SELECT doc_id, n_features, weight_micro,
         CAST(row_number() OVER (ORDER BY weight_micro DESC, doc_id) AS INTEGER) AS rank
  FROM w)
SELECT * FROM ranked WHERE rank <= 25
"""


SQL_DSIR_WEIGHTS = _sql_dsir_weights()


def q_zorder_layout(spark, sf_dir):
    """Z-order (Morton) file-layout clustering (``operators/layout.py``) —
    the Iceberg write-ordered-by-zorder / Delta OPTIMIZE ZORDER lever,
    restated as exact-integer column math: normalize (user_id, ts) onto
    16-bit grids, bit-interleave, assign files by top z-bits (no global
    sort), report per-file row counts and per-dimension bounding boxes —
    the min/max footer stats multidimensional pruning would see. Seconds
    via integer `div` so both engines floor identically; every z-value is
    bit-for-bit reproducible in DuckDB."""
    from anycrawl_spark.operators.layout import layout_stats

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        # repo convention (sessions.py): session TZ pinned UTC, so this is
        # DuckDB's floor(epoch(ts)) on the naive value
        F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
    )
    return layout_stats(ev, "user_id", "ts_s", bits=16, n_files=16)


def _sql_zorder_layout() -> str:
    interleave = " + ".join(
        f"((na >> {i}) & 1) * {1 << (2 * i)} + ((nb >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(16)
    )
    return f"""
WITH e AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_s FROM events),
b AS (
  SELECT min(user_id) AS lo_a, max(user_id) AS hi_a,
         min(ts_s) AS lo_b, max(ts_s) AS hi_b
  FROM e),
n AS (
  SELECT user_id, ts_s,
         CAST(floor(((user_id - lo_a) * 65536) / (hi_a - lo_a + 1)) AS BIGINT) AS na,
         CAST(floor(((ts_s - lo_b) * 65536) / (hi_b - lo_b + 1)) AS BIGINT) AS nb
  FROM e CROSS JOIN b),
z AS (
  SELECT user_id, ts_s, CAST({interleave} AS BIGINT) AS zvalue FROM n)
SELECT zvalue >> 28 AS file_id, count(*) AS n_rows,
       min(user_id) AS min_a, max(user_id) AS max_a,
       min(ts_s) AS min_b, max(ts_s) AS max_b
FROM z GROUP BY 1
"""


SQL_ZORDER_LAYOUT = _sql_zorder_layout()


def _sql_hll_hosts() -> str:
    # 60-bit md5 int, digit-for-digit the same arithmetic as the Spark conv()
    h60 = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), {d}, 1)) - 1)"
        f" * {16 ** (15 - d)}"
        for d in range(1, 16)
    )
    mask = (1 << 54) - 1
    # harmonic sum scaled by 2^55, one bit above the largest register (55)
    c = repr(0.709 * 64 * 64 * float(1 << 55))  # same literal as the Spark side
    return f"""
WITH h AS (
  SELECT event_type, CAST({h60} AS BIGINT) AS h FROM events),
r AS (
  SELECT event_type, h >> 54 AS idx,
         CASE WHEN (h & {mask}) = 0 THEN 55
              ELSE 55 - length(bin(h & {mask})) END AS rho
  FROM h),
mx AS (SELECT event_type, idx, max(rho) AS rho FROM r GROUP BY 1, 2),
agg AS (
  SELECT event_type,
         CAST(64 - count(*) AS BIGINT) AS n_zero_registers,
         CAST(sum(rho) AS BIGINT) AS register_sum,
         CAST(sum(CAST(power(2.0, 55 - rho) AS BIGINT)) AS BIGINT)
           + CAST(64 - count(*) AS BIGINT) * {1 << 55} AS s_int
  FROM mx GROUP BY 1),
est AS (
  SELECT event_type, n_zero_registers, register_sum,
         {c} / s_int AS raw
  FROM agg)
SELECT e.event_type, e.n_zero_registers, e.register_sum,
       round(CASE WHEN e.n_zero_registers > 0 AND raw <= 160.0
                  THEN 64.0 * ln(64.0 / e.n_zero_registers) ELSE raw END, 4)
         AS estimate,
       x.exact_distinct
FROM est e
JOIN (SELECT event_type, count(DISTINCT user_id) AS exact_distinct
      FROM events GROUP BY 1) x USING (event_type)
"""


SQL_HLL_HOSTS = _sql_hll_hosts()


SQL_STAR_CLUSTERS = r"""
WITH RECURSIVE ids AS (
  SELECT doc_id FROM documents WHERE doc_id < 128),
e0 AS (
  SELECT doc_id AS a, doc_id + 1 AS b FROM ids WHERE doc_id % 32 <> 31
  UNION ALL
  SELECT doc_id AS a, doc_id + 16 AS b FROM ids WHERE doc_id % 32 < 8),
edges AS (
  SELECT a AS src, b AS dst FROM e0
  UNION
  SELECT b AS src, a AS dst FROM e0),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
comp AS (
  SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
  FROM reach GROUP BY src),
sizes AS (
  SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size,
       c.doc_id = c.cluster_id AS is_canonical
FROM comp c JOIN sizes s USING (cluster_id)
"""


def q_robots_gate(spark, sf_dir):
    """RFC 9309 robots.txt gating over RAW robots.txt text
    (functions/robots.py parse + group-select + wildcard longest-match;
    operators/gates.make_robots_text_gate). Fixture texts exercise: the
    wildcard-free compile-down to the engine's longest-prefix kernel, the
    ``*``/``$`` RFC matcher with allow/disallow specificity ties, agent-
    specific group selection (product token 'anycrawl'), inapplicable
    groups, missing robots.txt, crawl-delay extraction, and the RFC match
    TARGET being path+query ($-anchored patterns must not block
    query-bearing URLs; /*?sessionid= patterns only match with the query).

    NOT in the driver contract (50-entry window); value-checked by the
    local gate against a HAND-ENUMERATED oracle (every expected row
    derived by hand from RFC 9309 §2.2, same convention as
    q_template_render's oracle)."""
    from anycrawl_spark.operators.gates import make_robots_text_gate

    texts = {
        "a.example": "User-agent: *\nDisallow: /private\nAllow: /private/ok\n",
        "b.example": (
            "User-agent: *\nDisallow: /*.php$\nAllow: /files\nCrawl-delay: 4\n"
        ),
        "c.example": (
            "User-agent: anycrawl\nDisallow: /\nUser-agent: *\nDisallow: /none\n"
        ),
        "e.example": "User-agent: otherbot\nDisallow: /\n",
        "f.example": "User-agent: *\nDisallow: /*?sessionid=\n",
    }
    cands = [
        ("a.example", "https://a.example/"),
        ("a.example", "https://a.example/private"),
        ("a.example", "https://a.example/private/ok"),
        ("a.example", "https://a.example/privateer"),
        ("a.example", "https://a.example/public"),
        ("b.example", "https://b.example/x.php"),
        ("b.example", "https://b.example:8443/x.php5"),
        ("b.example", "https://b.example/files/x.php"),
        ("b.example", "https://b.example/files/doc.html"),
        ("b.example", "https://b.example/y"),
        ("c.example", "https://c.example/"),
        ("c.example", "https://c.example/anything"),
        ("d.example", "https://d.example/whatever"),
        ("e.example", "https://e.example/whatever"),
        # RFC 9309 matches path + optional QUERY: an end-anchored /*.php$
        # must not block /x.php?id=1, and query-targeting patterns like
        # /*?sessionid= only ever match with the query attached
        ("a.example", "https://a.example/private?x=1"),
        ("b.example", "https://b.example/x.php?id=1"),
        ("f.example", "https://f.example/page?sessionid=abc"),
        ("f.example", "https://f.example/page?other=1"),
        ("f.example", "https://f.example/sessionid="),
    ]
    gate = make_robots_text_gate(texts, agent="AnyCrawl/1.0")
    df = spark.createDataFrame(cands, "host string, url string")
    return df.withColumn("g", gate("host", "url")).select(
        "host", "url", "g.allowed", "g.kernel", "g.crawl_delay"
    )


def q_path_gates(spark, sf_dir):
    """F1/F2 path gates over a structured URL-variant corpus: include/exclude
    (crawlee minimatch nocase semantics incl. the uppercase-/P/ nocase admit
    and the case-insensitive exclude) and shouldScrapeUrl (regex-first
    ordered loop, dot:true glob). ONE Arrow stage, zero exchanges.

    Oracle: hand-derived per structural variant (documented in the SQL) —
    independent of the kernel, which is itself pinned by the 12k-case node
    minimatch differential fuzz (tests/test_capture.py) and the reference
    Base.ts semantics (tests/test_patterns.py).

    NOT in the driver contract — the contract is capped at the driver's
    50-entry check window; verified by the local oracle gate."""
    import pandas as pd  # noqa: F401 (annotation namespace for the UDF)
    from pyspark.sql import types as T

    from anycrawl_spark.functions.patterns import (
        compile_exclude_patterns,
        compile_include_patterns,
        should_scrape_url,
        url_passes,
    )

    scrape = ["/\\/p\\/[0-9]+$/", "**/p/*"]
    inc = compile_include_patterns(["**/p/**", "/\\/q\\/[0-9]+$/"])
    exc = compile_exclude_patterns(["**/p/13"])

    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    h = F.lit("http://hostx.example.net")
    v = F.pmod("o_orderkey", 10)
    n = F.pmod("o_custkey", 20).cast("string")
    url = (
        F.when(v == 0, F.concat(h, F.lit("/p/"), n))
        .when(v == 1, F.concat(h, F.lit("/p/"), n, F.lit("?ref=1")))
        .when(v == 2, F.concat(h, F.lit("/P/"), n))
        .when(v == 3, F.concat(h, F.lit("/p/.h"), n))
        .when(v == 4, F.concat(h, F.lit("/p/")))
        .when(v == 5, F.concat(h, F.lit("/p/"), n, F.lit("/x")))
        .when(v == 6, F.concat(h, F.lit("//p//"), n))
        .when(v == 7, F.concat(h, F.lit("/q/"), n))
        .when(v == 8, F.concat(h, F.lit("/p/x."), n))
        .otherwise(F.concat(h, F.lit("/p/..")))
    )

    out_type = T.StructType([
        T.StructField("should_scrape", T.BooleanType()),
        T.StructField("include_pass", T.BooleanType()),
    ])

    def _gates(u):
        return pd.DataFrame({
            "should_scrape": [should_scrape_url(x, scrape) for x in u],
            "include_pass": [url_passes(x, inc, exc) for x in u],
        })

    gates = F.pandas_udf(_gates, out_type)

    return (
        o.select("o_orderkey", url.alias("url"))
        .withColumn("_g", gates(F.col("url")))
        .select("o_orderkey", "url",
                F.col("_g.should_scrape").alias("should_scrape"),
                F.col("_g.include_pass").alias("include_pass"))
    )


# Hand-derived truth per variant (v = o_orderkey%10, n = o_custkey%20) —
# each CASE arm annotated with the minimatch/Base.ts rule that decides it:
#   should_scrape ["/\/p\/[0-9]+$/", "**/p/*"] (regex-first; glob dot:true)
#     v0 regex end-anchor hit; v1 glob (query string rides the segment);
#     v2 case-sensitive 'p' mismatch; v3 dot:true star admits '.h<n>';
#     v4 trailing-empty segment fails '*'; v5 two segments fail '*';
#     v6 slashes coalesce BOTH sides; v7 'q' mismatch; v8 star; v9 '..'
#     never matched by magic.
#   include ["**/p/**", "/\/q\/[0-9]+$/"] minus exclude ["**/p/13"],
#   crawlee nocase globs:
#     v3/v9 dot-leading / '..' blocked under trailing '**' dot:false;
#     v0/v2/v6 excluded exactly at n=13 (v2 via NOCASE 'P'='p');
#     v7 admitted by the regex literal.
SQL_PATH_GATES = """
SELECT o_orderkey,
  CASE v WHEN 0 THEN h || '/p/' || n WHEN 1 THEN h || '/p/' || n || '?ref=1'
         WHEN 2 THEN h || '/P/' || n WHEN 3 THEN h || '/p/.h' || n
         WHEN 4 THEN h || '/p/' WHEN 5 THEN h || '/p/' || n || '/x'
         WHEN 6 THEN h || '//p//' || n WHEN 7 THEN h || '/q/' || n
         WHEN 8 THEN h || '/p/x.' || n ELSE h || '/p/..' END AS url,
  v IN (0, 1, 3, 6, 8) AS should_scrape,
  CASE WHEN v IN (3, 9) THEN FALSE
       WHEN v IN (0, 2, 6) THEN n <> '13'
       ELSE TRUE END AS include_pass
FROM (
  SELECT o_orderkey, o_orderkey % 10 AS v,
         CAST(o_custkey % 20 AS VARCHAR) AS n,
         'http://hostx.example.net' AS h
  FROM orders WHERE o_orderkey < 2000)
"""


def q_sitemap_seeds(spark, sf_dir):
    """Sitemap ingestion (sitemaps.org protocol; functions/sitemaps.py +
    sources/sitemaps.py): fetched sitemap bodies -> deduplicated frontier
    seeds. The fixture corpus exercises: XML urlset (lastmod/changefreq/
    priority parsing, invalid values -> defaults, closed changefreq
    vocabulary), the location-scope rule (robots-submitted = host scope;
    plain documents = directory scope), sitemapindex one-level child
    resolution with the child checked against its OWN strict scope,
    cross-host index children distrusted, txt format (absolute URLs only),
    gzip transport (magic-byte sniff), a malformed-XML document isolated to
    an error row, and cross-sitemap per-URL dedup (highest priority, then
    lowest source URL wins).

    NOT in the driver contract (50-entry window); value-checked by the
    local gate against a HAND-ENUMERATED oracle (every expected row worked
    by hand from the protocol rules, same convention as q_robots_gate)."""
    import gzip as _gzip

    from anycrawl_spark.sources.sitemaps import sitemap_seeds

    NS = ' xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'
    s_main = (
        f'<?xml version="1.0" encoding="UTF-8"?>\n<urlset{NS}>\n'
        "<url><loc>https://s.example/a</loc><lastmod>2026-01-02</lastmod>"
        "<changefreq>daily</changefreq><priority>0.8</priority></url>\n"
        "<url><loc>https://s.example/dir/b</loc><changefreq>SOMETIMES"
        "</changefreq><priority>2.0</priority></url>\n"
        "<url><loc>https://other.example/x</loc></url>\n"
        "<url><loc>https://s.example/a</loc><priority>0.1</priority></url>\n"
        "</urlset>"
    )
    s_other = (
        f"<urlset{NS}><url><loc>https://s.example/a</loc>"
        "<priority>0.3</priority><lastmod>2026-02-01</lastmod></url></urlset>"
    )
    t_index = (
        f"<sitemapindex{NS}>"
        "<sitemap><loc>https://t.example/maps/s1.xml</loc></sitemap>"
        "<sitemap><loc>https://cdn.example/s2.xml</loc></sitemap>"
        "</sitemapindex>"
    )
    t_child = (
        f"<urlset{NS}>"
        "<url><loc>https://t.example/maps/p1</loc><priority>0.9</priority></url>"
        "<url><loc>https://t.example/p2</loc></url>"
        "</urlset>"
    )
    cdn_child = (
        f"<urlset{NS}><url><loc>https://cdn.example/evil</loc>"
        "<priority>1.0</priority></url></urlset>"
    )
    u_txt = "https://u.example/x\nnot-a-url\n\nhttps://u.example/y\n"
    v_gz = _gzip.compress(
        (
            f"<urlset{NS}><url><loc>https://v.example/gz1</loc>"
            "<lastmod>2026-03-04T05:06:07+00:00</lastmod>"
            "<changefreq>weekly</changefreq><priority>0.7</priority></url></urlset>"
        ).encode(),
        mtime=0,
    )
    w_bad = b"<urlset><url><loc>https://w.example/broken"

    corpus_rows = [
        ("https://s.example/sitemap.xml", s_main.encode()),
        ("https://s.example/other.xml", s_other.encode()),
        ("https://t.example/sitemap_index.xml", t_index.encode()),
        ("https://t.example/maps/s1.xml", t_child.encode()),
        ("https://cdn.example/s2.xml", cdn_child.encode()),
        ("https://u.example/sitemap.txt", u_txt.encode()),
        ("https://v.example/sitemap.xml.gz", v_gz),
        ("https://w.example/sitemap.xml", w_bad),
    ]
    submitted = {
        "https://s.example/sitemap.xml",
        "https://s.example/other.xml",
        "https://t.example/sitemap_index.xml",
        "https://u.example/sitemap.txt",
        "https://v.example/sitemap.xml.gz",
        "https://w.example/sitemap.xml",
    }
    corpus = spark.createDataFrame(corpus_rows, "sitemap_url string, body binary")
    return sitemap_seeds(corpus, submitted)


# Hand-derived expected rows (sitemaps.org protocol, worked by hand):
# s.example is robots-submitted => host scope, so /a and /dir/b qualify but
# other.example/x does not; /a is listed three times across two trusted
# sitemaps and the (0.8, sitemap.xml) row wins the dedup (highest priority);
# invalid priority 2.0 -> default 0.5 and invalid changefreq -> NULL;
# t.example's index is submitted so its same-host child s1.xml is trusted,
# but the child's OWN strict directory scope (/maps/) excludes /p2, and the
# cross-host cdn.example child is distrusted entirely; u's txt sitemap keeps
# only absolute-URL lines; v's gzip body is sniffed and parsed; w's
# truncated XML yields an error row and no seeds.
SQL_SITEMAP_SEEDS = """
SELECT * FROM (VALUES
  ('https://s.example/a',       's.example', '2026-01-02',
   'daily', CAST(0.8 AS DOUBLE), 'https://s.example/sitemap.xml'),
  ('https://s.example/dir/b',   's.example', CAST(NULL AS VARCHAR),
   CAST(NULL AS VARCHAR), CAST(0.5 AS DOUBLE), 'https://s.example/sitemap.xml'),
  ('https://t.example/maps/p1', 't.example', NULL,
   NULL, CAST(0.9 AS DOUBLE), 'https://t.example/maps/s1.xml'),
  ('https://u.example/x',       'u.example', NULL,
   NULL, CAST(0.5 AS DOUBLE), 'https://u.example/sitemap.txt'),
  ('https://u.example/y',       'u.example', NULL,
   NULL, CAST(0.5 AS DOUBLE), 'https://u.example/sitemap.txt'),
  ('https://v.example/gz1',     'v.example', '2026-03-04T05:06:07+00:00',
   'weekly', CAST(0.7 AS DOUBLE), 'https://v.example/sitemap.xml.gz')
) AS t(url, host, lastmod, changefreq, priority, source_sitemap)
"""


# Hand-derived expected rows (RFC 9309 §2.2 semantics, worked by hand):
# a.example compiles to the prefix kernel; b.example needs the RFC matcher
# (/*.php$ wildcard; note /files/x.php matches BOTH rules and the longer
# disallow (7) beats allow (6)); c.example selects the 'anycrawl' group
# (disallow all, wildcard-free => prefix kernel); d has no robots.txt and
# e's only group is inapplicable => default allowed, kernel 'none'.
SQL_ROBOTS_GATE = """
SELECT * FROM (VALUES
  ('a.example', 'https://a.example/',               true,  'prefix', CAST(NULL AS DOUBLE)),
  ('a.example', 'https://a.example/private',        false, 'prefix', CAST(NULL AS DOUBLE)),
  ('a.example', 'https://a.example/private/ok',     true,  'prefix', CAST(NULL AS DOUBLE)),
  ('a.example', 'https://a.example/privateer',      false, 'prefix', CAST(NULL AS DOUBLE)),
  ('a.example', 'https://a.example/public',         true,  'prefix', CAST(NULL AS DOUBLE)),
  ('b.example', 'https://b.example/x.php',          false, 'rfc',    4.0),
  ('b.example', 'https://b.example:8443/x.php5',    true,  'rfc',    4.0),
  ('b.example', 'https://b.example/files/x.php',    false, 'rfc',    4.0),
  ('b.example', 'https://b.example/files/doc.html', true,  'rfc',    4.0),
  ('b.example', 'https://b.example/y',              true,  'rfc',    4.0),
  ('c.example', 'https://c.example/',               false, 'prefix', CAST(NULL AS DOUBLE)),
  ('c.example', 'https://c.example/anything',       false, 'prefix', CAST(NULL AS DOUBLE)),
  ('d.example', 'https://d.example/whatever',       true,  'none',   CAST(NULL AS DOUBLE)),
  ('e.example', 'https://e.example/whatever',       true,  'none',   CAST(NULL AS DOUBLE)),
  ('a.example', 'https://a.example/private?x=1',        false, 'prefix', CAST(NULL AS DOUBLE)),
  ('b.example', 'https://b.example/x.php?id=1',         true,  'rfc',    4.0),
  ('f.example', 'https://f.example/page?sessionid=abc', false, 'rfc',    CAST(NULL AS DOUBLE)),
  ('f.example', 'https://f.example/page?other=1',       true,  'rfc',    CAST(NULL AS DOUBLE)),
  ('f.example', 'https://f.example/sessionid=',         true,  'rfc',    CAST(NULL AS DOUBLE))
) AS t(host, url, allowed, kernel, crawl_delay)
"""


# ---------------------------------------------------------------------------

QUERIES = {
    "q_pricing_summary": q_pricing_summary,
    "q_status_classify": q_status_classify,
    "q_progress_counters": q_progress_counters,
    "q_anti_join_seen": q_anti_join_seen,
    "q_cuckoo_dedup": q_cuckoo_dedup,
    "q_near_duplicates": q_near_duplicates,
    "q_ann_lsh": q_ann_lsh,
    "q_media_features": q_media_features,
    "q_engine_resolve": q_engine_resolve,
    "q_credit_calc": q_credit_calc,
    "q_ip_acl": q_ip_acl,
    "q_enrich_left_join": q_enrich_left_join,
    "q_broadcast_dim_join": q_broadcast_dim_join,
    "q_budget_topk": q_budget_topk,
    "q_discovery_seq": q_discovery_seq,
    "q_robots_gate": q_robots_gate,
    "q_path_filter": q_path_filter,
    "q_credits": q_credits,
    "q_bandwidth_agg": q_bandwidth_agg,
    "q_sitemap_seeds": q_sitemap_seeds,
    "q_retry_backoff": q_retry_backoff,
    "q_path_gates": q_path_gates,
    "q_duplicate_passages": q_duplicate_passages,
    "q_dup_clusters": q_dup_clusters,
    "q_serp_slice": q_serp_slice,
    "q_ad_filter": q_ad_filter,
    "q_proxy_match": q_proxy_match,
    "q_token_stats": q_token_stats,
    "q_lang_id": q_lang_id,
    "q_quality_score": q_quality_score,
    "q_exact_dup_groups": q_exact_dup_groups,
    "q_minhash_unigram": q_minhash_unigram,
    "q_ngram_jaccard_pairs": q_ngram_jaccard_pairs,
    "q_embedding_topk": q_embedding_topk,
    "q_finalize_check": q_finalize_check,
    "q_text_chunks": q_text_chunks,
    "q_embedding_centroids": q_embedding_centroids,
    "q_serp_urls": q_serp_urls,
    "q_simhash_md5": q_simhash_md5,
    "q_webhook_deliveries": q_webhook_deliveries,
    "q_embedding_near_dup": q_embedding_near_dup,
    "q_ivf_topk": q_ivf_topk,
    "q_scheduled_tasks": q_scheduled_tasks,
    "q_template_render": q_template_render,
    "q_llm_extract": q_llm_extract,
    "q_serp_search": q_serp_search,
    "q_serp_enrich": q_serp_enrich,
    "q_serp_searxng": q_serp_searxng,
    "q_serp_ac": q_serp_ac,
    "q_crawl_round": q_crawl_round,
}
# Exactly 50 entries, every one with a DuckDB value oracle, because the
# driver's contract check covers the first 50 registry entries (VERDICT r3
# "What's wrong" #1). Pruned r4: q_simhash (xxhash64, DuckDB-uncheckable —
# q_simhash_md5 value-checks the identical bit-majority operator; the
# function and its Hamming-locality property test remain), q_semi_join_seen
# (operator-duplicate of q_anti_join_seen), q_doc_fingerprint (fingerprint
# column folded into q_token_stats).
# Swapped r5 (VERDICT r4 "Next round" #1): q_robots_gate / q_sitemap_seeds /
# q_path_gates / q_duplicate_passages / q_dup_clusters moved INTO the window
# so the driver's hard signal checks the r4 frontier-critical operators;
# q_union_dedup / q_pagination / q_queue_depth / q_expiry_sweep /
# q_host_histogram (trivial shapes, exercised transitively by the crawl-loop
# queries) moved to EXTRA_QUERIES so local coverage lost nothing (the local
# gate verifies QUERIES + EXTRA_QUERIES — 94 oracle-backed queries total
# after the r5 additions: frame/audio sampling, audio features, PII,
# decontamination, repetition stats, ... and the session-5 batch:
# star CC, HLL sketches, z-order layout, DSIR, incremental dedup,
# stratified split).
assert len(QUERIES) <= 50, f"driver contract window is 50, got {len(QUERIES)}"

def verify_against_duckdb(spark, sf_dir: str, names=None) -> list[tuple[str, str]]:
    """Run queries on Spark + oracles on DuckDB, compare exactly (the driver's
    check, reproduced locally). Returns [(name, failure_reason)]."""
    import duckdb
    import pandas as pd

    tables = [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def norm(df: pd.DataFrame) -> pd.DataFrame:
        # Mirror the driver's value-hash semantics: every cell is stringified
        # WITH its dtype-dependent repr, so an int64 4075 vs a float64/object
        # 4075.0 (DuckDB HUGEINT round-trip) is a failure here too — the
        # driver hashes exactly that difference.
        df = df.reindex(sorted(df.columns), axis=1)
        df = df.astype(str)
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    failures: list[tuple[str, str]] = []
    all_queries = {**QUERIES, **EXTRA_QUERIES}
    all_oracles = {**ORACLES, **EXTRA_ORACLES}
    for name, fn in all_queries.items():
        if names and name not in names:
            continue
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"spark error: {e}"))
            continue
        sql = all_oracles.get(name)
        if sql is None:
            if len(sdf) == 0:
                failures.append((name, "rows-only query returned 0 rows"))
            continue
        odf = con.execute(sql).df()
        a, b = norm(sdf), norm(odf)
        if list(a.columns) != list(b.columns):
            failures.append((name, f"schema {list(a.columns)} != {list(b.columns)}"))
            continue
        if len(a) != len(b):
            failures.append((name, f"rowcount {len(a)} != {len(b)}"))
            continue
        try:
            pd.testing.assert_frame_equal(a, b, check_exact=True)
        except AssertionError as e:
            failures.append((name, f"values: {str(e)[:200]}"))
    return failures


ORACLES = {
    "q_pricing_summary": SQL_PRICING_SUMMARY,
    "q_status_classify": SQL_STATUS_CLASSIFY,
    "q_progress_counters": SQL_PROGRESS_COUNTERS,
    "q_anti_join_seen": SQL_ANTI_JOIN_SEEN,
    "q_cuckoo_dedup": SQL_CUCKOO_DEDUP,
    "q_engine_resolve": SQL_ENGINE_RESOLVE,
    "q_credit_calc": SQL_CREDIT_CALC,
    "q_ip_acl": SQL_IP_ACL,
    "q_enrich_left_join": SQL_ENRICH_LEFT_JOIN,
    "q_broadcast_dim_join": SQL_BROADCAST_DIM_JOIN,
    "q_budget_topk": SQL_BUDGET_TOPK,
    "q_discovery_seq": SQL_DISCOVERY_SEQ,
    "q_robots_gate": SQL_ROBOTS_GATE,
    "q_path_filter": SQL_PATH_FILTER,
    "q_credits": SQL_CREDITS,
    "q_bandwidth_agg": SQL_BANDWIDTH_AGG,
    "q_sitemap_seeds": SQL_SITEMAP_SEEDS,
    "q_retry_backoff": SQL_RETRY_BACKOFF,
    "q_path_gates": SQL_PATH_GATES,
    "q_duplicate_passages": SQL_DUP_CLUSTERS,  # placeholder, replaced below (mirror oracle)
    "q_dup_clusters": SQL_DUP_CLUSTERS,
    "q_serp_slice": SQL_SERP_SLICE,
    "q_ad_filter": SQL_AD_FILTER,
    "q_proxy_match": SQL_PROXY_MATCH,
    "q_token_stats": SQL_TOKEN_STATS,
    "q_lang_id": SQL_LANG_ID,
    "q_quality_score": SQL_QUALITY_SCORE,
    "q_exact_dup_groups": SQL_EXACT_DUP_GROUPS,
    "q_minhash_unigram": SQL_MINHASH_UNIGRAM,
    "q_ngram_jaccard_pairs": SQL_NGRAM_JACCARD_PAIRS,
    "q_embedding_topk": SQL_EMBEDDING_TOPK,
    "q_finalize_check": SQL_FINALIZE_CHECK,
    "q_text_chunks": SQL_TEXT_CHUNKS,
    "q_embedding_centroids": SQL_EMBEDDING_CENTROIDS,
    "q_serp_urls": SQL_SERP_URLS,
    "q_simhash_md5": SQL_SIMHASH_MD5,
    "q_webhook_deliveries": SQL_WEBHOOK_DELIVERIES,
    "q_embedding_near_dup": SQL_EMBEDDING_NEAR_DUP,
    "q_ivf_topk": SQL_IVF_TOPK,
    "q_scheduled_tasks": SQL_SCHEDULED_TASKS,
    "q_llm_extract": SQL_LLM_EXTRACT,
    "q_near_duplicates": SQL_NEAR_DUPLICATES,
}

# Mirror-generated oracles (anycrawl_spark/oracle_mirrors.py): expected rows
# enumerated by sequential Python — the ReferenceSimulator for the crawl
# loop, fixture-parameter enumeration for the SERP engines, sequential
# kernel recomputation for enrich/media — rendered as VALUES selects. The
# parameters here MUST match the corresponding q_* query bodies above.
from anycrawl_spark import oracle_mirrors as _mir  # noqa: E402

ORACLES["q_serp_search"] = _mir.sql_serp_search(
    [("q0", "spark crawl engine", 15), ("q1", "frontier dedup bloom", 7)]
)
ORACLES["q_serp_searxng"] = _mir.sql_serp_searxng(
    [("q0", "spark crawl engine", 15, "web"),
     ("q1", "frontier dedup bloom", 7, "images"),
     ("q2", "markdown extraction", 5, "news")]
)
ORACLES["q_serp_ac"] = _mir.sql_serp_ac(
    [("q0", "spark crawl engine", 25), ("q1", "frontier dedup bloom", 7)]
)
ORACLES["q_serp_enrich"] = _mir.sql_serp_enrich([("q0", "frontier bloom dedup", 10)])
ORACLES["q_crawl_round"] = _mir.sql_crawl_round(n_jobs=2, limit=20, max_rounds=20)
ORACLES["q_media_features"] = _mir.sql_media_features(max_doc_id=50, dim=8)
ORACLES["q_ann_lsh"] = _mir.sql_ann_lsh(dim=64, k=10, bits=4, round_dp=4)
ORACLES["q_template_render"] = _mir.sql_template_render()
ORACLES["q_duplicate_passages"] = _mir.sql_duplicate_passages(
    window=8, stride=4, min_count=2, max_doc_id=200
)


# --------------------------------------------------------------------------
# Extra oracle-backed queries BEYOND the driver's 50-entry contract window.
# The driver checks exactly the first 50 registry entries, so these are kept
# out of queries()/oracle_sql() on purpose and verified by the local gate
# (verify_against_duckdb, run in tests/test_queries_oracle.py). Since r5
# these are the five trivial shapes swapped OUT to make room for the r4
# frontier-critical operators (robots/sitemaps/path-gates/passages/clusters).

EXTRA_QUERIES = {
    "q_union_dedup": q_union_dedup,
    "q_pagination": q_pagination,
    "q_queue_depth": q_queue_depth,
    "q_expiry_sweep": q_expiry_sweep,
    "q_host_histogram": q_host_histogram,
    "q_frame_samples": q_frame_samples,
    "q_audio_features": q_audio_features,
    "q_audio_clips": q_audio_clips,
    "q_pii_redact": q_pii_redact,
    "q_decontaminate": q_decontaminate,
    "q_repetition_stats": q_repetition_stats,
    "q_normalize_text": q_normalize_text,
    "q_pack_manifest": q_pack_manifest,
    "q_mixture_sample": q_mixture_sample,
    "q_link_rank": q_link_rank,
    "q_bm25_topk": q_bm25_topk,
    "q_bpe_encode": q_bpe_encode,
    "q_anchor_terms": q_anchor_terms,
    "q_curriculum_buckets": q_curriculum_buckets,
    "q_warc_manifest": q_warc_manifest,
    "q_cdx_index": q_cdx_index,
    "q_recrawl_priority": q_recrawl_priority,
    "q_frontier_sharding": q_frontier_sharding,
    "q_trap_signals": q_trap_signals,
    "q_compaction_plan": q_compaction_plan,
    "q_snapshot_diff": q_snapshot_diff,
    "q_fair_alloc": q_fair_alloc,
    "q_latency_percentiles": q_latency_percentiles,
    "q_sessionize": q_sessionize,
    "q_aimd_rates": q_aimd_rates,
    "q_bitext_pairs": q_bitext_pairs,
    "q_index_delta": q_index_delta,
    "q_variant_clusters": q_variant_clusters,
    "q_source_overlap": q_source_overlap,
    "q_retention_plan": q_retention_plan,
    "q_star_clusters": q_star_clusters,
    "q_hll_hosts": q_hll_hosts,
    "q_zorder_layout": q_zorder_layout,
    "q_dsir_weights": q_dsir_weights,
    "q_incremental_dedup": q_incremental_dedup,
    "q_stratified_split": q_stratified_split,
    "q_cms_hosts": q_cms_hosts,
    "q_quantized_topk": q_quantized_topk,
    "q_phrase_search": q_phrase_search,
}
EXTRA_ORACLES = {
    "q_union_dedup": SQL_UNION_DEDUP,
    "q_pagination": SQL_PAGINATION,
    "q_queue_depth": SQL_QUEUE_DEPTH,
    "q_expiry_sweep": SQL_EXPIRY_SWEEP,
    "q_host_histogram": SQL_HOST_HISTOGRAM,
    "q_frame_samples": _mir.sql_frame_samples(max_doc_id=40, every_ms=100),
    "q_audio_features": _mir.sql_audio_features(max_doc_id=40, dim=8),
    "q_audio_clips": _mir.sql_audio_clips(max_doc_id=30, every_ms=100, clip_ms=50),
    "q_pii_redact": _mir.sql_pii_redact(max_doc_id=300),
    "q_decontaminate": _mir.sql_decontaminate(max_doc_id=400, n=8, bench_mod=37,
                                              bench_rem=3, snippet_tokens=12),
    "q_repetition_stats": _mir.sql_repetition_stats(max_doc_id=300),
    "q_normalize_text": _mir.sql_normalize_text(max_doc_id=60),
    "q_pack_manifest": _mir.sql_pack_manifest(max_doc_id=500, budget=64),
    "q_mixture_sample": _mir.sql_mixture_sample(
        {"src0": 0.5, "src1": 0.25, "src2": 0.15, "src3": 0.1}
    ),
    "q_link_rank": _mir.sql_link_rank(n_nodes=300, fanout=4, iterations=3),
    "q_bm25_topk": _mir.sql_bm25_topk(["join", "spark", "window"], k=10),
    "q_bpe_encode": _mir.sql_bpe_encode(max_doc_id=45),
    "q_anchor_terms": _mir.sql_anchor_terms(n_nodes=200, fanout=4, n_words=3, k=3),
    "q_curriculum_buckets": _mir.sql_curriculum_buckets(n_buckets=10),
    "q_warc_manifest": _mir.sql_warc_manifest(),
    "q_cdx_index": _mir.sql_cdx_index(),
    "q_recrawl_priority": _mir.sql_recrawl_priority(horizon=10000, k=5),
    "q_frontier_sharding": _mir.sql_frontier_sharding(n_old=16, n_new=17),
    "q_trap_signals": _mir.sql_trap_signals(),
    "q_compaction_plan": _mir.sql_compaction_plan(target_kb=4096, small_kb=2048),
    "q_snapshot_diff": _mir.sql_snapshot_diff(),
    "q_fair_alloc": _mir.sql_fair_alloc(),
    "q_latency_percentiles": _mir.sql_latency_percentiles([50, 90, 99]),
    "q_sessionize": _mir.sql_sessionize(gap_s=1800),
    "q_aimd_rates": _mir.sql_aimd_rates(
        n_rounds=6, init=8, incr=2, cap=64, floor_min=1
    ),
    "q_bitext_pairs": _mir.sql_bitext_pairs(min_ratio_x100=50),
    "q_index_delta": _mir.sql_index_delta(),
    "q_variant_clusters": _mir.sql_variant_clusters(),
    "q_source_overlap": _mir.sql_source_overlap(threshold=0.5),
    "q_retention_plan": _mir.sql_retention_plan(
        now_s=1_700_000_000, keep_last=5, keep_days=7, keep_weeks=4
    ),
    "q_star_clusters": SQL_STAR_CLUSTERS,
    "q_hll_hosts": SQL_HLL_HOSTS,
    "q_zorder_layout": SQL_ZORDER_LAYOUT,
    "q_dsir_weights": SQL_DSIR_WEIGHTS,
    "q_incremental_dedup": SQL_INCREMENTAL_DEDUP,
    "q_stratified_split": SQL_STRATIFIED_SPLIT,
    "q_cms_hosts": SQL_CMS_HOSTS,
    "q_quantized_topk": SQL_QUANTIZED_TOPK,
    "q_phrase_search": SQL_PHRASE_SEARCH,
}
