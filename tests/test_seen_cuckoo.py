"""Cuckoo-sharded seen filter (north_rule "bloom/cuckoo"; SURVEY §2.3 J1):
no false negatives, in-place DELETE support (the expiry re-queue capability
bloom lacks), overflow rebuild, exact equality with the naive anti-join."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from anycrawl_spark.operators.seen import broadcast_shards, with_dedup_key
from anycrawl_spark.operators.seen_cuckoo import (
    _build_table,
    _fp_i1_i2,
    _probe_table,
    build_cuckoo_shards,
    filter_fresh_cuckoo,
    merge_cuckoo_shards,
    probe_cuckoo,
    rebuild_overflow_shards,
)


def _mk(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["job_id", "url"]))
    return df.withColumn("url_hash", F.xxhash64("url"))


# -- pure-kernel properties (no Spark) ---------------------------------------


def test_kernel_no_false_negatives_and_low_fpp():
    rng = np.random.default_rng(7)
    keys = rng.integers(-(2**62), 2**62, size=20_000, dtype=np.int64)
    tbl, nb = _build_table(keys)
    assert _probe_table(tbl, keys).all()  # every inserted key probes positive
    probe = rng.integers(-(2**62), 2**62, size=50_000, dtype=np.int64)
    fresh = probe[~np.isin(probe, keys)]
    fpp = _probe_table(tbl, fresh).mean()
    assert fpp < 0.005  # 16-bit fp, 4-way: design fpp ~0.012%


def test_kernel_alt_index_symmetry():
    """i2 = i1 ^ scramble(fp) must be an involution (delete/evict correctness)."""
    rng = np.random.default_rng(11)
    keys = rng.integers(-(2**62), 2**62, size=1000, dtype=np.int64)
    nb = 1024
    fp, i1, i2 = _fp_i1_i2(keys, nb)
    fp2, j1, j2 = _fp_i1_i2(keys, nb)
    assert (fp == fp2).all() and (i1 == j1).all()
    # recomputing the alt of the alt returns the original bucket
    alt = ((fp.astype(np.uint64) * np.uint64(0x5BD1E995)) & np.uint64(nb - 1)).astype(np.int64)
    assert ((i2 ^ alt) == i1).all()
    assert (fp != 0).all()


def test_kernel_table_is_deterministic():
    rng = np.random.default_rng(3)
    keys = rng.integers(-(2**62), 2**62, size=5000, dtype=np.int64)
    t1, _ = _build_table(keys)
    t2, _ = _build_table(keys)
    assert (t1 == t2).all()


# -- Spark operator behavior --------------------------------------------------


def test_fresh_equals_naive_anti_join(spark):
    seen_rows = [("j1", f"http://h/{i}") for i in range(500)] + [
        ("j2", f"http://h/{i}") for i in range(0, 500, 2)
    ]
    cand_rows = [("j1", f"http://h/{i}") for i in range(300, 800)] + [
        ("j2", f"http://h/{i}") for i in range(100)
    ]
    seen, cand = _mk(spark, seen_rows), _mk(spark, cand_rows)
    got = {(r.job_id, r.url) for r in filter_fresh_cuckoo(cand, seen, 8, strategy="broadcast").collect()}
    want = {
        (r.job_id, r.url)
        for r in cand.join(seen.select("job_id", "url_hash"), ["job_id", "url_hash"], "left_anti").collect()
    }
    assert got == want
    assert ("j1", "http://h/799") in got and ("j1", "http://h/300") not in got


def test_no_false_negatives_via_spark(spark):
    seen = _mk(spark, [("j", f"http://h/{i}") for i in range(3000)])
    assert filter_fresh_cuckoo(seen, seen, 4, strategy="broadcast").count() == 0


def test_job_scoping(spark):
    seen = _mk(spark, [("j1", "http://h/x")])
    cand = _mk(spark, [("j2", "http://h/x"), ("j1", "http://h/x")])
    got = {(r.job_id, r.url) for r in filter_fresh_cuckoo(cand, seen, 4, strategy="broadcast").collect()}
    assert got == {("j2", "http://h/x")}


def test_delete_reopens_urls(spark):
    """THE cuckoo capability: expiry deletes make keys probe fresh again —
    in the filter itself, not just the exact recheck."""
    nb = 8
    keep = [("j", f"http://h/keep/{i}") for i in range(400)]
    expire = [("j", f"http://h/exp/{i}") for i in range(200)]
    seen0 = _mk(spark, keep + expire)
    shards0 = build_cuckoo_shards(with_dedup_key(seen0, nb))
    merged = merge_cuckoo_shards(
        shards0, delete_keyed=with_dedup_key(_mk(spark, expire), nb)
    ).select("bucket", "n_keys", "table")
    probed = probe_cuckoo(with_dedup_key(seen0, nb), merged, strategy="broadcast")
    hits = {(r.url, r.maybe_seen) for r in probed.select("url", "maybe_seen").collect()}
    # every kept key still positive (no false negatives survive deletion)
    assert all(h for (u, h) in hits if "/keep/" in u)
    # deleted fingerprints are gone: expired keys now probe negative
    # (a tiny number may collide with a kept key's fingerprint+bucket pair)
    exp_hits = sum(1 for (u, h) in hits if "/exp/" in u and h)
    assert exp_hits <= 2
    # end-to-end: filter_fresh_cuckoo against the post-expiry exact seen set
    seen_now = _mk(spark, keep)
    fresh = filter_fresh_cuckoo(
        _mk(spark, expire + keep[:5]), seen_now, nb, strategy="broadcast", shards=merged
    )
    assert fresh.count() == len(expire)


def test_merge_inserts_and_clean_bucket_passthrough(spark):
    nb = 8
    r0 = [("j", f"http://h/a/{i}") for i in range(300)]
    r1 = [("j", f"http://h/b/{i}") for i in range(150)]
    shards0 = build_cuckoo_shards(with_dedup_key(_mk(spark, r0), nb)).persist()
    keyed1 = with_dedup_key(_mk(spark, r1), nb)
    merged = merge_cuckoo_shards(shards0, fresh_keyed=keyed1).persist()
    assert merged.filter("overflow").count() == 0
    dirty = {r.bucket for r in merged.filter("updated").collect()}
    fresh_buckets = {r.bucket for r in keyed1.select("bucket").distinct().collect()}
    assert dirty == fresh_buckets
    # untouched buckets keep byte-identical tables
    before = {r.bucket: r.table for r in shards0.collect()}
    for r in merged.filter(~F.col("updated")).collect():
        assert r.table == before[r.bucket]
    # all keys (old + new) probe positive
    allk = with_dedup_key(_mk(spark, r0 + r1), nb)
    probed = probe_cuckoo(allk, merged.select("bucket", "n_keys", "table"), strategy="broadcast")
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    shards0.unpersist(); merged.unpersist()


def test_overflow_flag_and_rebuild(spark):
    """Force an overflow by merging far more keys than the build sized for,
    then rebuild from the exact key set and verify no false negatives."""
    nb = 2
    r0 = [("j", f"http://h/a/{i}") for i in range(50)]
    r1 = [("j", f"http://h/b/{i}") for i in range(5000)]  # >> 1.5x headroom
    shards0 = build_cuckoo_shards(with_dedup_key(_mk(spark, r0), nb))
    keyed1 = with_dedup_key(_mk(spark, r1), nb)
    merged = merge_cuckoo_shards(shards0, fresh_keyed=keyed1).persist()
    assert merged.filter("overflow").count() >= 1
    # overflowed buckets must return their ORIGINAL table (never half-applied)
    before = {r.bucket: r.table for r in shards0.collect()}
    for r in merged.filter("overflow").collect():
        assert r.table == before[r.bucket] and not r.updated
    all_keyed = with_dedup_key(_mk(spark, r0 + r1), nb).persist()
    rebuilt = rebuild_overflow_shards(merged, all_keyed).persist()
    assert rebuilt.filter("overflow").count() == 0
    probed = probe_cuckoo(all_keyed, rebuilt.select("bucket", "n_keys", "table"), strategy="broadcast")
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    merged.unpersist(); all_keyed.unpersist(); rebuilt.unpersist()


def test_broadcast_probe_path(spark):
    nb = 4
    seen = _mk(spark, [("j", f"http://h/{i}") for i in range(1000)])
    shards = build_cuckoo_shards(with_dedup_key(seen, nb))
    bc = broadcast_shards(shards, "table")
    cand = _mk(spark, [("j", f"http://h/{i}") for i in range(900, 1100)])
    fresh = filter_fresh_cuckoo(cand, seen, nb, strategy="broadcast", shards_bc=bc)
    assert fresh.count() == 100
    bc.destroy()


def test_cogroup_probe_equals_broadcast_probe(spark):
    """The scale path (VERDICT r3 #3): past BROADCAST_SHARDS_MAX_BYTES the
    probe cogroups candidates with shard rows by bucket instead of
    collect+broadcast — verdicts must be identical row-for-row."""
    nb = 8
    seen = _mk(spark, [("j", f"http://h/{i}") for i in range(2000)])
    shards = build_cuckoo_shards(with_dedup_key(seen, nb)).persist()
    cand = with_dedup_key(
        _mk(spark, [("j", f"http://h/{i}") for i in range(1500, 2500)]), nb
    ).persist()
    via_bc = {
        (r.job_id, r.url, r.maybe_seen)
        for r in probe_cuckoo(cand, shards, strategy="broadcast").collect()
    }
    via_cg = {
        (r.job_id, r.url, r.maybe_seen)
        for r in probe_cuckoo(cand, shards, strategy="cogroup").collect()
    }
    assert via_bc == via_cg
    shards.unpersist(); cand.unpersist()


def test_filter_fresh_cuckoo_cogroup_equals_naive(spark):
    seen_rows = [("j1", f"http://h/{i}") for i in range(500)]
    cand_rows = [("j1", f"http://h/{i}") for i in range(300, 800)]
    seen, cand = _mk(spark, seen_rows), _mk(spark, cand_rows)
    got = {
        (r.job_id, r.url)
        for r in filter_fresh_cuckoo(cand, seen, 8, strategy="cogroup").collect()
    }
    want = {
        (r.job_id, r.url)
        for r in cand.join(
            seen.select("job_id", "url_hash"), ["job_id", "url_hash"], "left_anti"
        ).collect()
    }
    assert got == want


def test_duplicate_keys_build_and_merge(spark):
    """>8 copies of one key must not spin the grow loop (set semantics:
    duplicates dedup to one stored fingerprint) — build, merge into an empty
    shard, and merge into an existing shard all handle duplicated batches."""
    from anycrawl_spark.operators.seen_cuckoo import _build_table

    dup = np.array([42] * 20 + [7] * 3, dtype=np.int64)
    tbl, nb = _build_table(dup)
    assert _probe_table(tbl, np.array([42, 7], dtype=np.int64)).all()
    assert nb <= 8  # sized for 2 unique keys, not 23 rows

    rows = [("j", "http://h/dup")] * 12 + [("j", f"http://h/{i}") for i in range(50)]
    keyed = with_dedup_key(_mk(spark, rows), 4)
    merged = merge_cuckoo_shards(None, fresh_keyed=keyed)
    assert merged.filter("overflow").count() == 0
    probed = probe_cuckoo(keyed, merged.select("bucket", "n_keys", "table"), strategy="broadcast")
    assert probed.filter(~F.col("maybe_seen")).count() == 0
    # second round: a NEW batch with intra-batch duplicates merges cleanly
    rows2 = [("j", "http://h/dup2")] * 12 + [("j", f"http://h/x{i}") for i in range(20)]
    keyed2 = with_dedup_key(_mk(spark, rows2), 4)
    merged2 = merge_cuckoo_shards(
        merged.select("bucket", "n_keys", "table"), fresh_keyed=keyed2
    ).persist()
    assert merged2.filter("overflow").count() == 0
    probed2 = probe_cuckoo(keyed2, merged2.select("bucket", "n_keys", "table"), strategy="broadcast")
    assert probed2.filter(~F.col("maybe_seen")).count() == 0
    # re-merging ALREADY-SEEN keys as 'fresh' (a caller contract violation)
    # adds fingerprint copies; it must degrade via the overflow flag — never
    # a crash or a silent loss — and rebuild-from-source restores the state
    merged3 = merge_cuckoo_shards(
        merged2.select("bucket", "n_keys", "table"), fresh_keyed=keyed
    ).persist()
    all_keyed = with_dedup_key(_mk(spark, rows + rows2), 4)
    fixed = rebuild_overflow_shards(merged3, all_keyed)
    probed3 = probe_cuckoo(all_keyed, fixed.select("bucket", "n_keys", "table"), strategy="broadcast")
    assert probed3.filter(~F.col("maybe_seen")).count() == 0
    merged2.unpersist(); merged3.unpersist()
