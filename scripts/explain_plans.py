"""Physical-plan audit: verify the plans are the plans we want.

Checks (and records to PLANS.md):
- parquet scans carry PushedFilters + pruned ReadSchema (predicate pushdown /
  column pruning reach the source)
- small dims go through BroadcastHashJoin, big joins through SortMerge
- anti-join realized as a hash/broadcast anti, not a cartesian
- WholeStageCodegen spans cover the JVM column math
- the crawl scheduling windows share one exchange (single hashpartitioning)
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def main() -> int:
    from anycrawl_spark.queries import EXTRA_QUERIES, QUERIES
    from anycrawl_spark.session import get_spark

    # contract-window membership moves between rounds; the audit only cares
    # that the operator exists somewhere in the registry
    ALL_QUERIES = {**QUERIES, **EXTRA_QUERIES}

    spark = get_spark("plans", cores=8, shuffle_partitions=8)
    findings: list[tuple[str, bool, str]] = []
    sections: list[str] = []

    def check(name: str, ok: bool, what: str) -> None:
        findings.append((name, ok, what))

    # 1. pushdown + pruning: q_path_filter (rlike filter + 2-col projection)
    p = plan_of(QUERIES["q_path_filter"](spark, SF))
    check("q_path_filter", "PushedFilters: [IsNotNull(p_type)]" in p, "filter pushed to parquet scan")
    check("q_path_filter", "p_partkey" in p and "p_retailprice" not in p.split("ReadSchema")[1][:200],
          "ReadSchema pruned to 2 columns")
    sections.append(("q_path_filter", p))

    # 2. broadcast dim join
    p = plan_of(QUERIES["q_broadcast_dim_join"](spark, SF))
    check("q_broadcast_dim_join", "BroadcastHashJoin" in p, "dim join is broadcast")
    sections.append(("q_broadcast_dim_join", p))

    # 3. anti join shape
    p = plan_of(QUERIES["q_anti_join_seen"](spark, SF))
    check("q_anti_join_seen", "LeftAnti" in p and "Cartesian" not in p, "anti-join, no cartesian")
    sections.append(("q_anti_join_seen", p))

    # 4. pricing summary: partial aggregation (map-side combine) + codegen
    df = QUERIES["q_pricing_summary"](spark, SF)
    p = plan_of(df)
    check("q_pricing_summary", "partial_" in p or "HashAggregate" in p, "two-phase hash aggregation")
    # codegen stars only appear in the POST-execution AQE final plan
    df.collect()
    p_simple = plan_of(df, "simple")
    check(
        "q_pricing_summary",
        "*(" in p_simple and "isFinalPlan=true" in p_simple,
        "whole-stage codegen spans in the executed final plan",
    )
    check("q_pricing_summary",
          "PushedFilters" in p and "LessThanOrEqual(l_shipdate" in p,
          "shipdate predicate pushed to scan")
    sections.append(("q_pricing_summary", p))

    # 5. scheduling windows: one exchange serves both windows — audits the
    #    engine's own flag_schedule over a few generated rows, repartitioned
    #    by job_id as run_round's closure regime passes them (exact path)
    from anycrawl_spark.crawl.params import CrawlParams
    from anycrawl_spark.operators.gates import flag_schedule, tokens_expr
    from pyspark.sql import functions as F

    pending = spark.range(64).select(
        F.concat(F.lit("job-"), (F.col("id") % 2).cast("string")).alias("job_id"),
        F.concat(F.lit("h"), (F.col("id") % 5).cast("string")).alias("host"),
        F.lit("pending").alias("status"),
        F.lit(0).alias("next_eligible_round"),
        (F.col("id") % 3).cast("int").alias("depth"),
        F.col("id").alias("discovery_seq"),
        F.xxhash64("id").alias("url_hash"),
    )
    sched = flag_schedule(
        pending.repartition("job_id"), 0, ["job-0", "job-1"], {"job-0": 10, "job-1": 10},
        tokens_expr({}, CrawlParams(default_host_tokens=4)),
    ).filter("_sched")
    p = plan_of(sched)
    n_exchanges = len(re.findall(r"\n\(\d+\) Exchange", p))
    check("scheduling_windows", n_exchanges == 1,
          f"both windows share ONE exchange (found {n_exchanges})")
    sections.append(("scheduling_windows", p))

    # 6. embedding top-k: vectors scanned once, queries broadcast
    p = plan_of(QUERIES["q_embedding_topk"](spark, SF))
    check("q_embedding_topk", "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
          "query side broadcast (vectors never shuffled for scoring)")
    sections.append(("q_embedding_topk", p))

    # 7. LLM extraction: JVM-side chunk explode, ONE Arrow generate stage,
    #    ONE exchange (doc_id) for the merge cogroup — scan pruned to 2 cols
    p = plan_of(QUERIES["q_llm_extract"](spark, SF))
    # formatted mode prints each node twice (tree + "(N) Node" detail) — count
    # only the numbered detail headers
    check("q_llm_extract", len(re.findall(r"^\(\d+\) ArrowEvalPython", p, re.M)) == 1,
          "one Arrow generate stage")
    check("q_llm_extract", len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1,
          "single exchange (doc_id merge)")
    check("q_llm_extract", "PushedFilters: [IsNotNull(doc_id)" in p,
          "doc filter pushed to parquet scan")
    sections.append(("q_llm_extract", p))

    # 8. cuckoo dedup: probe is a narrow Arrow stage over broadcast shards;
    #    the exact recheck is a hash anti-join, never a cartesian
    p = plan_of(QUERIES["q_cuckoo_dedup"](spark, SF))
    check("q_cuckoo_dedup", "LeftAnti" in p and "Cartesian" not in p,
          "exact recheck is an anti-join, no cartesian")
    check("q_cuckoo_dedup", "ArrowEvalPython" in p,
          "probe is an Arrow-batched stage (16B/row out, 1B back)")
    sections.append(("q_cuckoo_dedup", p))

    # 9. policy column-exprs (engine resolution, credit calc, IP ACL): all
    #    three must be pure JVM math — zero python stages, one exchange (agg)
    for qname in ("q_engine_resolve", "q_credit_calc", "q_ip_acl"):
        p = plan_of(QUERIES[qname](spark, SF))
        check(qname, "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
              "no python stage (policy folded to JVM column math)")
        check(qname, len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 1,
              "single exchange (final aggregation only)")
        sections.append((qname, p))

    # 10. template pipeline (incl. r4 preNav capture rules): broadcast dim
    #     join, ONE MapInPandas kernel (captures run inside the same Arrow
    #     stage), request rows never shuffle
    p = plan_of(QUERIES["q_template_render"](spark, SF))
    check("q_template_render", "BroadcastHashJoin" in p,
          "templates dim is broadcast")
    check("q_template_render",
          len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) == 1,
          "ONE Arrow kernel (render+validate+capture fused)")
    check("q_template_render",
          len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0,
          "request rows never shuffle (0 exchanges)")
    sections.append(("q_template_render", p))

    # 10b. path gates (F1/F2 over the real minimatch kernel): ONE Arrow
    #      stage for both gates, zero exchanges — URL rows never shuffle
    p = plan_of(ALL_QUERIES["q_path_gates"](spark, SF))
    check("q_path_gates",
          len(re.findall(r"^\(\d+\) ArrowEvalPython", p, re.M)) == 1,
          "ONE Arrow stage (scrape + include/exclude gates fused)")
    check("q_path_gates",
          len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0,
          "URL rows never shuffle (0 exchanges)")
    sections.append(("q_path_gates", p))

    # 11. media features (r4 real PNG decode): the only exchange carries
    #     media_ref strings (the distinct), never payload bytes — media
    #     bytes stay inside the narrow Arrow maps
    p = plan_of(QUERIES["q_media_features"](spark, SF))
    exch_args = re.findall(
        r"^\(\d+\) (?:Broadcast)?Exchange\nInput \[\d+\]: \[([^\]]*)\]", p, re.M
    )
    check("q_media_features",
          all("payload" not in a for a in exch_args),
          "no exchange (shuffle OR broadcast) ever carries payload bytes")
    check("q_media_features",
          len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) == 2,
          "materialize + decode are narrow Arrow maps (2 stages, fixture-side; production reads bytes from storage into ONE stage)")
    sections.append(("q_media_features", p))

    # 11b. frame sampling (r5 animated GIF decode): same shape — the only
    #      exchange carries media_ref strings; neither payload nor sampled
    #      frame bytes ever cross an exchange (row fan-out happens INSIDE
    #      the Arrow stage)
    from anycrawl_spark.queries import EXTRA_QUERIES

    p = plan_of(EXTRA_QUERIES["q_frame_samples"](spark, SF))
    exch_args = re.findall(
        r"^\(\d+\) (?:Broadcast)?Exchange\nInput \[\d+\]: \[([^\]]*)\]", p, re.M
    )
    check("q_frame_samples",
          all("payload" not in a and "frame" not in a for a in exch_args),
          "no exchange carries payload or frame bytes")
    check("q_frame_samples",
          len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) == 2,
          "materialize + sample are narrow Arrow maps (frame fan-out inside the stage)")
    sections.append(("q_frame_samples", p))

    # 11c. audio clips (r5 real WAV decode): same shape as frame sampling —
    #      the only exchange carries media_ref strings; neither payload nor
    #      clip bytes ever cross an exchange (clip fan-out happens INSIDE
    #      the Arrow stage)
    p = plan_of(EXTRA_QUERIES["q_audio_clips"](spark, SF))
    exch_args = re.findall(
        r"^\(\d+\) (?:Broadcast)?Exchange\nInput \[\d+\]: \[([^\]]*)\]", p, re.M
    )
    check("q_audio_clips",
          all("payload" not in a and "clip" not in a for a in exch_args),
          "no exchange carries payload or clip bytes")
    check("q_audio_clips",
          len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) == 2,
          "materialize + clip-sample are narrow Arrow maps (clip fan-out inside the stage)")
    sections.append(("q_audio_clips", p))

    # 11d. PII redaction (r5): the whole query is regexp column math inside
    #      the scan stage — zero exchanges, zero Python
    p = plan_of(EXTRA_QUERIES["q_pii_redact"](spark, SF))
    check("q_pii_redact",
          len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0,
          "pure scan-stage map (0 exchanges)")
    check("q_pii_redact",
          "Python" not in p and "InPandas" not in p,
          "pure JVM regexp math (no Python stage)")
    sections.append(("q_pii_redact", p))

    # 11e. decontamination (r5): benchmark gram set broadcasts; corpus text
    #      never crosses an exchange — the only shuffle carries matched
    #      (doc_id, gram) rows for the final per-doc distinct count
    p = plan_of(EXTRA_QUERIES["q_decontaminate"](spark, SF))
    check("q_decontaminate",
          len(re.findall(r"^\(\d+\) BroadcastHashJoin", p, re.M)) >= 1
          and len(re.findall(r"^\(\d+\) SortMergeJoin", p, re.M)) == 0,
          "benchmark gram join is broadcast, never sort-merge")
    exch_args = re.findall(
        r"^\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p, re.M
    )
    check("q_decontaminate",
          all("text" not in a for a in exch_args),
          "corpus text never crosses a shuffle (matched grams only)")
    sections.append(("q_decontaminate", p))

    # 11f. repetition stats (r5): ONE Arrow pass in the scan stage — the
    #      pure-SQL alternative would shuffle O(corpus tokens) rows per
    #      statistic
    p = plan_of(EXTRA_QUERIES["q_repetition_stats"](spark, SF))
    check("q_repetition_stats",
          len(re.findall(r"^\(\d+\) ArrowEvalPython", p, re.M)) == 1,
          "ONE Arrow kernel pass (all seven counts)")
    check("q_repetition_stats",
          len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0,
          "text never crosses an exchange (0 shuffles)")
    sections.append(("q_repetition_stats", p))

    # 11g. dedup-key normalization (r5): same kernel discipline — one Arrow
    #      pass in the scan stage, no exchange
    p = plan_of(EXTRA_QUERIES["q_normalize_text"](spark, SF))
    check("q_normalize_text",
          len(re.findall(r"^\(\d+\) ArrowEvalPython", p, re.M)) == 1,
          "ONE Arrow kernel pass")
    check("q_normalize_text",
          len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0,
          "text never crosses an exchange (0 shuffles)")
    sections.append(("q_normalize_text", p))

    # 11h. sequence packing (r5): the global prefix sum must be the
    #      TWO-PHASE form — an intra-partition window over doc-level
    #      metadata, never a single-partition global window
    p = plan_of(EXTRA_QUERIES["q_pack_manifest"](spark, SF))
    check("q_pack_manifest",
          "SinglePartition" not in p,
          "no single-partition exchange (two-phase prefix sum)")
    check("q_pack_manifest",
          len(re.findall(r"^\(\d+\) Window", p, re.M)) == 1,
          "ONE window (the intra-partition cumsum)")
    exch_args = re.findall(
        r"^\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", p, re.M
    )
    check("q_pack_manifest",
          all("text" not in a for a in exch_args),
          "document text never crosses an exchange (doc-level metadata only)")
    sections.append(("q_pack_manifest", p))

    # 11i. mixture sampling (r5): after the O(sources) count collect, the
    #      keep decision is a pure scan-stage JVM filter — no exchange, no
    #      python
    p = plan_of(EXTRA_QUERIES["q_mixture_sample"](spark, SF))
    check("q_mixture_sample",
          len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0,
          "pure scan-stage filter (0 exchanges)")
    check("q_mixture_sample",
          "Python" not in p and "InPandas" not in p,
          "keep decision is JVM md5 + string compare (no Python)")
    sections.append(("q_mixture_sample", p))

    # 11j. link-graph centrality (r5): each Pregel round is a join + a
    #      TWO-PHASE integer sum (partial_sum below the dst exchange); no
    #      cartesian, no Python anywhere in the rank rounds
    p = plan_of(EXTRA_QUERIES["q_link_rank"](spark, SF))
    check("q_link_rank", "Cartesian" not in p, "no cartesian product")
    check("q_link_rank",
          "Python" not in p and "InPandas" not in p,
          "rank rounds are pure JVM join+sum")
    check("q_link_rank",
          re.search(r"partial_sum|partial_count", p) is not None,
          "final degree aggregation is two-phase (map-side partial)")
    sections.append(("q_link_rank", p))

    # 11k. BM25 retrieval (r5): query-term filter sits below the postings
    #      shuffle (only matching tokens leave the scan stage), the df join
    #      broadcasts (O(query terms)), and top-k is a bounded heap
    p = plan_of(EXTRA_QUERIES["q_bm25_topk"](spark, SF))
    check("q_bm25_topk",
          "TakeOrderedAndProject" in p,
          "top-k is TakeOrderedAndProject (per-partition heaps, k rows to driver)")
    check("q_bm25_topk",
          "BroadcastHashJoin" in p,
          "document-frequency join broadcasts")
    check("q_bm25_topk",
          "Cartesian" not in p and "Python" not in p and "InPandas" not in p,
          "pure JVM scoring, no cartesian")
    sections.append(("q_bm25_topk", p))

    # 11l. BPE encode (r5): the whole tokenizer is ONE Arrow stage in the
    #      scan — merges ride the closure, nothing shuffles
    p = plan_of(EXTRA_QUERIES["q_bpe_encode"](spark, SF))
    check("q_bpe_encode",
          len(re.findall(r"^\(\d+\) ArrowEvalPython", p, re.M)) == 1,
          "encode is exactly ONE Arrow-batched stage")
    check("q_bpe_encode",
          len(re.findall(r"^\(\d+\) Exchange", p, re.M)) == 0,
          "tokenization never shuffles (0 exchanges)")
    sections.append(("q_bpe_encode", p))

    # 11m. anchor-text aggregation (r5): term counts two-phase, the
    #      per-target rank cut pushed map-side
    p = plan_of(EXTRA_QUERIES["q_anchor_terms"](spark, SF))
    check("q_anchor_terms",
          "WindowGroupLimit" in p,
          "top-k rank cut pushed below the shuffle (map-side WindowGroupLimit)")
    check("q_anchor_terms",
          re.search(r"partial_count", p) is not None,
          "term counting is two-phase")
    check("q_anchor_terms",
          "Cartesian" not in p and "InPandas" not in p,
          "pure JVM, no cartesian")
    sections.append(("q_anchor_terms", p))

    # 11n. curriculum buckets (r5): the row-level rank window partitions on
    #      (source, key) — never bare source (the whole-source sort-window
    #      skew trap); only the tiny histogram windows key on source alone
    p = plan_of(EXTRA_QUERIES["q_curriculum_buckets"](spark, SF))
    # windowspecdefinition(...) AS _weN#M], [partition cols], [order cols]
    # — capture the explicit partition bracket, not the spec args (those
    # also list order columns, which would false-pass a bare-source window
    # ordered by the key).
    rw = re.findall(
        r"row_number\(\) windowspecdefinition[^\n]*?\], \[([^\]]*)\], \[", p)
    check("q_curriculum_buckets",
          bool(rw) and all("n_tokens#" in s for s in rw),
          "row-level rank window includes the key in its partitioning")
    check("q_curriculum_buckets",
          "Cartesian" not in p and "Python" not in p and "InPandas" not in p,
          "pure JVM, no cartesian")
    sections.append(("q_curriculum_buckets", p))

    # 11o. WARC manifest (r5): the whole record-length/offset accounting is
    #      JVM column math — digests via built-in md5, lengths via
    #      octet_length, offsets via the per-segment cumsum window
    p = plan_of(EXTRA_QUERIES["q_warc_manifest"](spark, SF))
    check("q_warc_manifest",
          "Python" not in p and "InPandas" not in p,
          "record accounting is pure JVM column math (no python stage)")
    check("q_warc_manifest",
          "hashpartitioning(segment" in p,
          "the only exchange keys on the segment (offset window locality)")
    check("q_warc_manifest",
          "Cartesian" not in p,
          "no cartesian")
    sections.append(("q_warc_manifest", p))

    # 11p. CDX index (r5): SURT + timestamp + absolute offsets all JVM
    p = plan_of(EXTRA_QUERIES["q_cdx_index"](spark, SF))
    check("q_cdx_index",
          "Python" not in p and "InPandas" not in p,
          "SURT + offset accounting is pure JVM column math")
    check("q_cdx_index",
          "hashpartitioning(segment" in p,
          "the only exchange keys on the segment (offset window locality)")
    check("q_cdx_index",
          "Cartesian" not in p,
          "no cartesian")
    sections.append(("q_cdx_index", p))

    # 11q. recrawl priorities (r5): lag window per-url, budget cut map-side
    p = plan_of(EXTRA_QUERIES["q_recrawl_priority"](spark, SF))
    check("q_recrawl_priority",
          "Python" not in p and "InPandas" not in p,
          "change-rate pipeline is pure JVM")
    check("q_recrawl_priority",
          "WindowGroupLimit" in p,
          "per-host refresh budget cut pushed map-side")
    check("q_recrawl_priority",
          re.search(r"partial_count", p) is not None,
          "per-url stats aggregate two-phase")
    sections.append(("q_recrawl_priority", p))

    # 11r. frontier sharding (r5): HRW assignment is a zero-exchange
    #      projection; only the resize accounting aggregates
    p = plan_of(EXTRA_QUERIES["q_frontier_sharding"](spark, SF))
    check("q_frontier_sharding",
          "Python" not in p and "InPandas" not in p,
          "HRW argmax is pure JVM (greatest-of-structs projection)")
    check("q_frontier_sharding",
          len(re.findall(r"\(\d+\) Exchange", p)) == 1,
          "one exchange total — the resize-stats groupBy; assignment adds none")
    sections.append(("q_frontier_sharding", p))

    # 11s. trap signals (r5): repeat detection without explode, two-phase agg
    p = plan_of(EXTRA_QUERIES["q_trap_signals"](spark, SF))
    check("q_trap_signals",
          "Python" not in p and "InPandas" not in p,
          "trap signal pipeline is pure JVM")
    check("q_trap_signals",
          "Generate" not in p,
          "repeat-segment detection stays array-local (no explode)")
    check("q_trap_signals",
          re.search(r"partial_count", p) is not None,
          "per-host aggregate is two-phase")
    sections.append(("q_trap_signals", p))

    # 11t. compaction plan (r5): metadata-only window per table partition
    p = plan_of(EXTRA_QUERIES["q_compaction_plan"](spark, SF))
    check("q_compaction_plan",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "packing plan is pure JVM window math")
    check("q_compaction_plan",
          "windowspecdefinition(partition#" in p,
          "cumsum window partitions by the table partition")
    sections.append(("q_compaction_plan", p))

    # 11u. snapshot diff (r5): shingle sets stay array-local, one url join
    p = plan_of(EXTRA_QUERIES["q_snapshot_diff"](spark, SF))
    check("q_snapshot_diff",
          "Python" not in p and "InPandas" not in p,
          "diffing is pure JVM array math")
    check("q_snapshot_diff",
          "Generate" not in p,
          "shingle sets never explode")
    check("q_snapshot_diff",
          "Cartesian" not in p,
          "no cartesian")
    sections.append(("q_snapshot_diff", p))

    # 11v. fair allocation (r5): closed-form water-filling, windows on host
    p = plan_of(EXTRA_QUERIES["q_fair_alloc"](spark, SF))
    check("q_fair_alloc",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "water-filling is pure JVM window math")
    check("q_fair_alloc",
          "windowspecdefinition(host#" in p,
          "all windows key on host (politeness co-partitioning)")
    sections.append(("q_fair_alloc", p))

    # 11w. exact percentiles (r5): two-phase histogram, no global sort
    p = plan_of(EXTRA_QUERIES["q_latency_percentiles"](spark, SF))
    check("q_latency_percentiles",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "percentile pipeline is pure JVM")
    check("q_latency_percentiles",
          re.search(r"partial_count", p) is not None,
          "histogram aggregates two-phase")
    check("q_latency_percentiles",
          "rangepartitioning" not in p,
          "no global sort of the data (histogram windows only)")
    sections.append(("q_latency_percentiles", p))

    # 11x. sessionization (r5): per-key windows, two-phase rollup
    p = plan_of(EXTRA_QUERIES["q_sessionize"](spark, SF))
    check("q_sessionize",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "gaps-and-islands is pure JVM window math")
    check("q_sessionize",
          "windowspecdefinition(user_id#" in p,
          "both windows partition by the session key")
    sections.append(("q_sessionize", p))

    # 11y. AIMD rates (r5): the evolution is one JVM fold, no per-round joins
    p = plan_of(EXTRA_QUERIES["q_aimd_rates"](spark, SF))
    check("q_aimd_rates",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "AIMD fold is pure JVM")
    check("q_aimd_rates",
          "aggregate(" in p,
          "evolution runs as a higher-order fold (no unrolled joins)")
    check("q_aimd_rates",
          re.search(r"partial_", p) is not None,
          "round collection aggregates two-phase")
    sections.append(("q_aimd_rates", p))

    # 11z. bitext mining (r5): scan-stage keying, bounded self-join
    p = plan_of(EXTRA_QUERIES["q_bitext_pairs"](spark, SF))
    check("q_bitext_pairs",
          "Python" not in p and "InPandas" not in p,
          "marker keying + ratio filter are pure JVM")
    check("q_bitext_pairs",
          "CartesianProduct" not in p and "NestedLoop" not in p,
          "the pair join is a hash join on the key (groups bounded by |langs|)")
    sections.append(("q_bitext_pairs", p))

    # 11aa. index delta (r5): broadcast tombstones, adjustment arithmetic
    p = plan_of(EXTRA_QUERIES["q_index_delta"](spark, SF))
    check("q_index_delta",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "incremental maintenance is pure JVM")
    check("q_index_delta",
          "BroadcastHashJoin" in p,
          "tombstone anti/semi joins broadcast (round-sized side)")
    sections.append(("q_index_delta", p))

    # 11ab. variant folding (r5): scan-stage fold, two-phase cluster rollup
    p = plan_of(EXTRA_QUERIES["q_variant_clusters"](spark, SF))
    check("q_variant_clusters",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "variant folding is pure JVM string/array math")
    check("q_variant_clusters",
          re.search(r"partial_count", p) is not None,
          "cluster rollup is two-phase")
    sections.append(("q_variant_clusters", p))

    # 11ac. source overlap (r5): the curation rollup over the LSH pair stream
    p = plan_of(EXTRA_QUERIES["q_source_overlap"](spark, SF))
    check("q_source_overlap",
          "CartesianProduct" not in p,
          "pairing stays LSH-bucketed (no all-pairs join)")
    check("q_source_overlap",
          re.search(r"partial_count", p) is not None,
          "matrix rollup is two-phase")
    sections.append(("q_source_overlap", p))

    # 11ad. retention plan (r5): metadata-only window math
    p = plan_of(EXTRA_QUERIES["q_retention_plan"](spark, SF))
    check("q_retention_plan",
          "Python" not in p and "InPandas" not in p and "Cartesian" not in p,
          "tiered retention is pure JVM window math over the manifest")
    sections.append(("q_retention_plan", p))

    # 13. duplicate-cluster label propagation (r4): one hash-min round —
    #     audits the operator's own _propagate_round (not a hand-copy).
    #     Pure JVM (no python stage), two-phase min (map-side partial),
    #     no cartesian; the loop in duplicate_clusters localCheckpoints
    #     between rounds so this IS the whole steady-state per-round plan.
    from anycrawl_spark.operators.dedup import _propagate_round

    edges = pending.select(
        F.col("url_hash").alias("src"), (F.col("url_hash") % 97).alias("dst")
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "label", F.col("id")
    )
    p = plan_of(_propagate_round(edges, labels))
    check("dup_clusters_round",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "label propagation is pure JVM (no python stage)")
    check("dup_clusters_round", "partial_min" in p,
          "two-phase min (map-side partial aggregation)")
    check("dup_clusters_round", "Cartesian" not in p,
          "no cartesian anywhere in the round")
    sections.append(("dup_clusters_round", p))

    # 13b. large-star round (r5 session-5): the O(log n) CC alternation
    #      (connected_components_star) — same invariants as 13: pure JVM,
    #      two-phase min, no cartesian; every exchange carries two
    #      fixed-width id columns.
    from anycrawl_spark.operators.dedup import _large_star, _small_star

    sym = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    ).distinct()
    p = plan_of(_small_star(_large_star(sym)))
    check("star_cc_round",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "large/small-star alternation is pure JVM (no python stage)")
    check("star_cc_round", "partial_min" in p,
          "two-phase min (map-side partial aggregation)")
    check("star_cc_round", "Cartesian" not in p,
          "no cartesian anywhere in the alternation")
    sections.append(("star_cc_round", p))

    # 13c. HLL cardinality sketch (r5 session-5): ONE data-scale two-phase
    #      groupBy((group, idx)) max + an O(groups) rollup — pure JVM, no
    #      python stage, fixed-width register rows on the exchange.
    p = plan_of(EXTRA_QUERIES["q_hll_hosts"](spark, SF))
    check("q_hll_hosts",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "sketch build is pure JVM column math (no python stage)")
    check("q_hll_hosts", "partial_max" in p,
          "two-phase register max (map-side partial aggregation)")
    check("q_hll_hosts", "Cartesian" not in p,
          "no cartesian in the sketch/exact join")
    sections.append(("q_hll_hosts", p))

    # 13d. z-order layout (r5 session-5): pure JVM integer math; file
    #      assignment by top z-bits — NO global sort (no rangepartitioning
    #      exchange); the bounds row is a broadcast build side.
    p = plan_of(EXTRA_QUERIES["q_zorder_layout"](spark, SF))
    check("q_zorder_layout",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "morton math is pure JVM (no python stage)")
    check("q_zorder_layout", "rangepartitioning" not in p.lower(),
          "no global sort — file ids come from top z-bits")
    check("q_zorder_layout", "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
          "min/max bounds row broadcast back (O(1)-row build side)")
    sections.append(("q_zorder_layout", p))

    # 13e. DSIR importance weighting (r5 session-5): distribution fits are
    #      two-phase counts over the fixed bucket space; the O(buckets)
    #      ratio table broadcasts into per-doc scoring; top-k rank plants
    #      map-side; pure JVM throughout.
    p = plan_of(EXTRA_QUERIES["q_dsir_weights"](spark, SF))
    check("q_dsir_weights",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "hashing/fits/weights are pure JVM (no python stage)")
    check("q_dsir_weights", "partial_count" in p,
          "two-phase distribution fits (map-side partial counts)")
    check("q_dsir_weights", "BroadcastHashJoin" in p,
          "O(buckets) ratio table broadcast into per-doc scoring")
    check("q_dsir_weights", "TakeOrderedAndProject" in p,
          "top-k is TakeOrderedAndProject (per-task k-heap, no global sort)")
    sections.append(("q_dsir_weights", p))

    # 13f. incremental near-dup vs signature store (r5 session-5): candidates
    #      from a band-bucket join (never all-pairs/cartesian), verification
    #      via the seed-agreement join — pure JVM, two-phase count.
    p = plan_of(EXTRA_QUERIES["q_incremental_dedup"](spark, SF))
    check("q_incremental_dedup",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "signature/band/agreement pipeline is pure JVM")
    check("q_incremental_dedup", "Cartesian" not in p,
          "no cartesian — candidates come from the band-bucket join")
    sections.append(("q_incremental_dedup", p))

    # 13g. stratified split (r5 session-5): the rank is decomposed into
    #      bucket offsets + in-bucket windows, so NO window partitions on
    #      the bare stratum column (mega-partition) — every Window's
    #      partition spec includes _bkt; offsets broadcast.
    p = plan_of(EXTRA_QUERIES["q_stratified_split"](spark, SF))
    check("q_stratified_split",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "split decision is pure JVM")
    import re as _re
    row_windows = _re.findall(r"row_number\(\) windowspecdefinition\((.*?)\)", p)
    check("q_stratified_split",
          all("_bkt" in s for s in row_windows),
          "the data-scale rank window partitions on (stratum, bucket), never bare stratum")
    check("q_stratified_split", "BroadcastHashJoin" in p,
          "bucket offsets broadcast back (O(strata x buckets) build side)")
    sections.append(("q_stratified_split", p))

    # 13h. count-min sketch (r5 session-5): same discipline as HLL — the
    #      data-scale aggregation collapses into the fixed cell space
    #      (two-phase count), rollup O(groups), pure JVM.
    p = plan_of(EXTRA_QUERIES["q_cms_hosts"](spark, SF))
    check("q_cms_hosts",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "sketch build/query is pure JVM")
    check("q_cms_hosts", "partial_count" in p,
          "two-phase cell counts (map-side partial aggregation)")
    sections.append(("q_cms_hosts", p))

    # 13i. int8 quantized ANN (r5 session-5): both top-k windows plant
    #      map-side; queries broadcast; pure JVM integer dot products.
    p = plan_of(EXTRA_QUERIES["q_quantized_topk"](spark, SF))
    check("q_quantized_topk",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "quantize/rank/rescore are pure JVM")
    check("q_quantized_topk", "WindowGroupLimit" in p,
          "per-query top-k planted map-side")
    check("q_quantized_topk", "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p,
          "query side broadcast (vectors never shuffle for the scan stage)")
    sections.append(("q_quantized_topk", p))

    # 13j. phrase search (r5 session-5): postings pruned to phrase terms
    #      inside the scan stage (filter BEFORE the Generate/explode), one
    #      two-phase vote aggregation; pure JVM.
    p = plan_of(EXTRA_QUERIES["q_phrase_search"](spark, SF))
    check("q_phrase_search",
          "ArrowEvalPython" not in p and "BatchEvalPython" not in p,
          "postings/vote pipeline is pure JVM")
    check("q_phrase_search", "Cartesian" not in p,
          "no cartesian — anchors come from the vote groupBy")
    sections.append(("q_phrase_search", p))

    # 14. sitemap ingestion (r4): bodies are parsed in ONE Arrow stage whose
    #     output is cached (InMemoryRelation), so the index->child trust
    #     self-join does NOT re-parse bodies; the trust join broadcasts the
    #     O(sitemap docs) children side; the per-URL dedup rank is pushed
    #     below its shuffle (map-side WindowGroupLimit), so the only O(urls)
    #     exchange carries at most one row per (partition, loc).
    p = plan_of(ALL_QUERIES["q_sitemap_seeds"](spark, SF))
    check("q_sitemap_seeds",
          len(re.findall(r"^\(\d+\) MapInPandas", p, re.M)) == 1,
          "ONE Arrow parse stage (bodies parsed exactly once)")
    check("q_sitemap_seeds", "InMemoryRelation" in p,
          "parse output cached for the index->child self-join (no body re-parse)")
    check("q_sitemap_seeds",
          "BroadcastHashJoin" in p and "SortMergeJoin" not in p,
          "trust join is broadcast (children side is O(sitemap docs))")
    loc_ex = re.search(
        r"^\((\d+)\) Exchange\nInput[^\n]*\nArguments: hashpartitioning\(loc", p, re.M
    )
    wgl = [int(n) for n in re.findall(r"^\((\d+)\) WindowGroupLimit", p, re.M)]
    check("q_sitemap_seeds",
          bool(wgl) and loc_ex is not None and min(wgl) < int(loc_ex.group(1)),
          "dedup rank pushed below the loc shuffle (map-side WindowGroupLimit)")
    sections.append(("q_sitemap_seeds", p))

    # 15. robots dim regime: the engine's dim-regime scheduling and
    #     admission plans are checked in tier-1, under a round's static plan
    #     (tests/test_round_plan.py::test_robots_dim_engine_plan_under_static_scope).

    spark.stop()

    lines = ["# PLANS.md — physical-plan audit (generated by scripts/explain_plans.py)", ""]
    ok_all = True
    for name, ok, what in findings:
        ok_all &= ok
        lines.append(f"- {'PASS' if ok else 'FAIL'} `{name}`: {what}")
    lines.append("")
    for name, p in sections:
        lines.append(f"## {name}\n\n```\n{p.strip()[:3000]}\n```\n")
    # Preserve the hand-written per-round audit tables ("## Round-N additions")
    # appended below the generated plans — regeneration must not drop them.
    manual = ""
    if os.path.exists("PLANS.md"):
        existing = open("PLANS.md").read()
        idx = existing.find("## Round-2 additions")
        if idx != -1:
            manual = "\n" + existing[idx:]
    with open("PLANS.md", "w") as f:
        f.write("\n".join(lines) + manual)
    for name, ok, what in findings:
        print(("PASS" if ok else "FAIL"), name, "-", what)
    return 0 if ok_all else 1


if __name__ == "__main__":
    raise SystemExit(main())
