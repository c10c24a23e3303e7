"""DSIR-style importance weighting for targeted pretraining-data selection.

Public reference: Xie et al. 2023, "Data Selection for Language Models
via Importance Resampling" (arXiv:2302.03169). The method: featurize
every document as hashed n-gram counts, fit unigram-of-features models
for the TARGET distribution (the small high-quality set you want more
of) and the RAW distribution (the crawl), and weight each raw document
by its log importance ratio sum_f n_f * log(p_target(f)/p_raw(f));
selection keeps the top-weighted (or Gumbel-resampled) documents.

Spark-first shape — the 100 TB accounting:

- Feature space is FIXED and SMALL (``buckets``, default 4096): both
  distribution fits are two-phase groupBy(bucket) counts whose exchange
  carries at most ``buckets`` partial rows per map task — map-side
  combine makes the fit O(buckets x tasks), not O(corpus tokens).
- The ratio table is O(buckets) rows and BROADCASTS; per-document
  scoring is (doc, bucket, n) fixed-width rows joined map-side — the
  only data-scale shuffle is the groupBy(doc_id) that assembles
  per-document weights, O(distinct (doc, bucket)) <= O(doc tokens).
- Log ratios are pre-rounded to MICRO-LOG integers (round(1e6 * log r))
  so the per-document weight is an exact bigint dot product — no
  float-accumulation order anywhere, bit-stable across partitionings
  and engines (the DuckDB oracle reproduces every weight exactly), and
  top-k ordering by (weight, doc_id) has no FP tie ambiguity.
- Top-k selection is a rank window that Spark plants map-side
  (WindowGroupLimit): each partition emits at most k rows.

Hashing reuses the repo's 60-bit md5 convention (DuckDB-checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from anycrawl_spark.functions.text import tokens

MICRO = 1_000_000


def _bigram_buckets(text, buckets: int):
    """Array of hashed-bigram bucket ids for a text column — pure
    higher-order functions, no explode until the caller wants rows."""
    toks = tokens(F.lower(text))
    n = F.size(toks)
    # NB: F.sequence(1, n-1) counts DOWN when n < 2 — zip_with over two
    # shifted slices is empty-safe for 0/1-token docs
    width = F.greatest(n - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, width),
        F.slice(toks, 2, width),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.transform(
        pairs,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"), F.lit(buckets)
        ),
    )


def hashed_feature_counts(
    docs: DataFrame, buckets: int = 4096, text_col: str = "text"
) -> DataFrame:
    """(bucket, n) counts of hashed bigram features over a corpus — the
    distribution fit. Two-phase aggregate over a <= ``buckets``-wide key
    space: the exchange is O(buckets) per map task regardless of corpus
    size."""
    return (
        docs.select(F.explode(_bigram_buckets(F.col(text_col), buckets)).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def dsir_log_ratios(
    target_counts: DataFrame, raw_counts: DataFrame, buckets: int = 4096
) -> DataFrame:
    """(bucket, logr_micro): round(1e6 * log((t_b+1)/(T+B) / ((r_b+1)/(R+B))))
    with add-one smoothing over the full bucket space: one row for every
    bucket in [0, B), so a bucket seen in neither fit carries the smoothed
    log((R+B)/(T+B)) instead of dropping out of ``dsir_weights``' join.
    Exactly ``buckets`` rows — broadcast it. The micro-int rounding is
    what makes every downstream weight an exact integer."""
    t = target_counts.select(F.col("bucket"), F.col("n").alias("t_n"))
    r = raw_counts.select(F.col("bucket"), F.col("n").alias("r_n"))
    every = target_counts.sparkSession.range(buckets).withColumnRenamed("id", "bucket")
    full = (
        every.join(t, "bucket", "left")
        .join(r, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("t_n", F.lit(0)).alias("t_n"),
            F.coalesce("r_n", F.lit(0)).alias("r_n"),
        )
    )
    totals = full.agg(
        F.sum("t_n").alias("_T"), F.sum("r_n").alias("_R")
    )
    j = full.crossJoin(F.broadcast(totals))
    logr = (
        F.log((F.col("t_n") + 1).cast("double") / (F.col("_T") + buckets))
        - F.log((F.col("r_n") + 1).cast("double") / (F.col("_R") + buckets))
    )
    return j.select(
        "bucket", F.round(logr * MICRO).cast("long").alias("logr_micro")
    )


def dsir_weights(
    docs: DataFrame,
    ratios: DataFrame,
    buckets: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_features, weight_micro): exact-bigint importance weight per
    document. Ratio table broadcast; the only data-scale shuffle carries
    (doc, bucket, count) fixed-width rows."""
    feat = (
        docs.select(
            F.col(id_col), F.explode(_bigram_buckets(F.col(text_col), buckets)).alias("bucket")
        )
        .groupBy(id_col, "bucket")
        .agg(F.count("*").alias("n"))
    )
    scored = feat.join(F.broadcast(ratios), "bucket")
    return (
        scored.groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_features"),
            F.sum(F.col("n") * F.col("logr_micro")).cast("long").alias("weight_micro"),
        )
    )


def dsir_select(weights: DataFrame, k: int, id_col: str = "doc_id") -> DataFrame:
    """Top-k by (weight_micro desc, id asc) — integer ordering, no FP
    ties. ``orderBy().limit(k)`` compiles to TakeOrderedAndProject —
    Spark's distributed top-k (each task keeps a k-heap, the driver
    merges k-sized results; no global sort, no full-rank window) — and
    the rank column is then derived over just the k survivors."""
    top = weights.orderBy(F.col("weight_micro").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("weight_micro").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w))
