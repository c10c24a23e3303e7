"""Fixed StructTypes for every engine table (schema-on-write).

The reference keeps payloads as JS objects / JSONB blobs
(reference: packages/db/src/db/schemas/PostgreSQL.ts:71-138); the rebuild uses
explicit columnar schemas so Iceberg/parquet scans prune columns and push
filters. The `spans` shape is mandated by BASELINE.json `input_hint`.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- interleaved document payload (input_hint shape) -----------------------
SPAN = T.StructType(
    [
        T.StructField("kind", T.StringType()),       # 'text' | 'media'
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),    # dense in-document ordinal
    ]
)

DOCUMENTS = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("doc_id", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("title", T.StringType()),
        T.StructField("markdown", T.StringType()),
        T.StructField("spans", T.ArrayType(SPAN)),
        T.StructField("n_links", T.IntegerType()),
    ]
)

# --- frontier / crawl state ------------------------------------------------
# Mirrors the Crawlee Request userData envelope
# (reference: packages/scrape/src/engines/Base.ts:376-423) as columns.
FRONTIER = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("url", T.StringType()),             # canonical form
        T.StructField("url_hash", T.LongType()),          # xxhash64(canonical)
        T.StructField("host", T.StringType()),
        T.StructField("depth", T.IntegerType()),
        T.StructField("discovery_seq", T.LongType()),     # BFS ordinal (O1)
        T.StructField("parent_url_hash", T.LongType()),
        T.StructField("round_added", T.IntegerType()),
        T.StructField("status", T.StringType()),          # pending|fetched|failed|skipped
        T.StructField("attempt", T.IntegerType()),
        T.StructField("next_eligible_round", T.IntegerType()),
        T.StructField("priority", T.DoubleType()),
    ]
)

SEEN = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("first_round", T.IntegerType()),
    ]
)

# Job envelope (reference: jobs table PostgreSQL.ts:71-118 + CrawlSchema.ts).
JOBS = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("seed_url", T.StringType()),
        T.StructField("engine", T.StringType()),
        T.StructField("strategy", T.StringType()),        # all|same-domain|same-hostname|same-origin
        T.StructField("max_depth", T.IntegerType()),
        T.StructField("limit", T.IntegerType()),
        T.StructField("include_paths", T.ArrayType(T.StringType())),
        T.StructField("exclude_paths", T.ArrayType(T.StringType())),
        T.StructField("scrape_paths", T.ArrayType(T.StringType())),
        T.StructField("status", T.StringType()),          # pending|running|completed|cancelled
    ]
)

# Per-round progress aggregate (replaces Redis HSET crawl:{jobId};
# reference: packages/scrape/src/managers/Progress.ts:8-18).
PROGRESS = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("enqueued", T.LongType()),
        T.StructField("done", T.LongType()),
        T.StructField("succeeded", T.LongType()),
        T.StructField("failed", T.LongType()),
        T.StructField("finalized", T.BooleanType()),
        T.StructField("next_seq", T.LongType()),   # resume point for discovery_seq
    ]
)

# S11 webhook side table, one row per job lifecycle event
# (reference: WebhookEvents.ts:6-36).
WEBHOOK_EVENTS = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("event", T.StringType()),   # crawl.started|completed|failed
        T.StructField("round", T.IntegerType()),
    ]
)

# Fetch result rows produced by the (simulated) fetch stage.
FETCH_RESULTS = T.StructType(
    list(FRONTIER.fields)
    + [
        T.StructField("status_code", T.IntegerType()),
        T.StructField("html", T.StringType()),
        T.StructField("latency_ms", T.IntegerType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)

# Per-request traffic metrics
# (reference: packages/libs/src/types/RequestMetric.ts, Base.ts:712-726).
FETCH_METRICS = T.StructType(
    [
        T.StructField("job_id", T.StringType()),
        T.StructField("round", T.IntegerType()),
        T.StructField("url_hash", T.LongType()),
        T.StructField("host", T.StringType()),
        T.StructField("status_code", T.IntegerType()),
        T.StructField("latency_ms", T.IntegerType()),
        T.StructField("size_bytes", T.LongType()),
    ]
)

# robots.txt rule table (new functionality required by north_rule; the
# reference never enables robots — robots-parser is only a transitive dep).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("rule", T.StringType()),            # 'allow' | 'disallow'
        T.StructField("path_prefix", T.StringType()),
        T.StructField("crawl_delay_ms", T.IntegerType()),
    ]
)

# SERP result row (reference: packages/search/src/engines/types.ts:6-48 —
# web|images|news union flattened into one nullable schema).
SERP_RESULTS = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("page", T.IntegerType()),
        T.StructField("position", T.IntegerType()),
        T.StructField("category", T.StringType()),
        T.StructField("title", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("description", T.StringType()),
        T.StructField("source", T.StringType()),
    ]
)
