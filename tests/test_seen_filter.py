"""Bloom-sharded seen filter (SURVEY §2.3 J1, §4.2.3): no false negatives,
exact equality with the naive anti-join."""

import pandas as pd
from pyspark.sql import functions as F

from anycrawl_spark.operators.seen import build_bloom_shards, filter_fresh, with_dedup_key


def _mk(spark, rows):
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["job_id", "url"]))
    return df.withColumn("url_hash", F.xxhash64("url"))


def _anti_join(cand, seen):
    """The exact oracle: candidate rows whose (job_id, url_hash) is not seen."""
    return cand.join(seen.select("job_id", "url_hash"), ["job_id", "url_hash"], "left_anti")


def test_fresh_equals_naive_anti_join(spark):
    seen_rows = [("j1", f"http://h/{i}") for i in range(500)] + [
        ("j2", f"http://h/{i}") for i in range(0, 500, 2)
    ]
    cand_rows = [("j1", f"http://h/{i}") for i in range(300, 800)] + [
        ("j2", f"http://h/{i}") for i in range(100)
    ]
    seen = _mk(spark, seen_rows)
    cand = _mk(spark, cand_rows)

    bloom_fresh = filter_fresh(cand, seen, num_buckets=8, strategy="broadcast")
    naive_fresh = _anti_join(cand, seen)

    a = {(r.job_id, r.url) for r in bloom_fresh.collect()}
    b = {(r.job_id, r.url) for r in naive_fresh.collect()}
    assert a == b
    # sanity: j1 fresh = 500..799, j2 fresh = odd < 100
    assert ("j1", "http://h/799") in a and ("j1", "http://h/300") not in a
    assert ("j2", "http://h/1") in a and ("j2", "http://h/2") not in a


def test_bloom_no_false_negatives(spark):
    """Every seen key must probe positive in its shard."""
    seen = _mk(spark, [("j", f"http://h/{i}") for i in range(2000)])
    keyed = with_dedup_key(seen, num_buckets=4)
    shards = build_bloom_shards(keyed)
    # probing the seen set against itself must yield zero fresh rows
    fresh = filter_fresh(seen, seen, num_buckets=4, strategy="broadcast")
    assert fresh.count() == 0
    # shard sizing: each bucket produced one row
    assert shards.count() == 4


def test_job_scoping(spark):
    """Same url in another job is NOT seen (per-job uniqueKey, Base.ts:420)."""
    seen = _mk(spark, [("j1", "http://h/x")])
    cand = _mk(spark, [("j2", "http://h/x"), ("j1", "http://h/x")])
    fresh = {(r.job_id, r.url) for r in filter_fresh(cand, seen, 4, strategy="broadcast").collect()}
    assert fresh == {("j2", "http://h/x")}


def test_incremental_merge_semantic_equality(spark):
    """K rounds of incremental merge == from-scratch build, semantically:
    zero false negatives on every seen key, and the same filter_fresh result
    as the exact anti-join. Also: only dirtied buckets are flagged updated."""
    import numpy as np

    from anycrawl_spark.operators.seen import merge_bloom_shards

    num_buckets = 8
    shards = None
    all_rows = []
    for rnd in range(5):
        batch = [("j", f"http://h/{rnd}/{i}") for i in range(200 + 100 * rnd)]
        all_rows.extend(batch)
        keyed = with_dedup_key(_mk(spark, batch), num_buckets)
        merged = merge_bloom_shards(shards, keyed).persist()
        # dirty-flag sanity: every bucket with fresh keys has an updated gen
        dirty = {r.bucket for r in merged.filter("updated").select("bucket").distinct().collect()}
        fresh_buckets = {r.bucket for r in keyed.select("bucket").distinct().collect()}
        assert dirty == fresh_buckets
        if shards is not None:
            shards.unpersist()
        shards = merged.select("bucket", "gen", "n_keys", "bloom")

    seen = _mk(spark, all_rows)
    # no false negatives: probing the full seen set via the incremental
    # shards yields zero fresh rows
    fresh = filter_fresh(seen, seen, num_buckets, shards=shards, strategy="broadcast")
    assert fresh.count() == 0
    # exact agreement with the naive anti-join on a mixed candidate set
    cand = _mk(
        spark,
        [("j", f"http://h/1/{i}") for i in range(150, 400)]
        + [("j", f"http://new/{i}") for i in range(300)],
    )
    a = {
        r.url
        for r in filter_fresh(
            cand, seen, num_buckets, strategy="broadcast", shards=shards
        ).collect()
    }
    b = {r.url for r in _anti_join(cand, seen).collect()}
    assert a == b
    # bounded false-positive rate on never-seen keys (scalable-bloom gens)
    probe = _mk(spark, [("j", f"http://unseen/{i}") for i in range(4000)])
    n_fresh = filter_fresh(
        probe, seen, num_buckets, strategy="broadcast", shards=shards
    ).count()
    fp_rate = 1.0 - n_fresh / 4000
    assert fp_rate <= 0.05, fp_rate


def test_merge_untouched_buckets_pass_through(spark):
    """A round whose fresh keys hit one bucket must leave every other
    bucket's blob byte-identical and flagged not-updated."""
    from anycrawl_spark.operators.seen import merge_bloom_shards

    num_buckets = 8
    base = with_dedup_key(_mk(spark, [("j", f"http://h/{i}") for i in range(500)]), num_buckets)
    state0 = merge_bloom_shards(None, base).select("bucket", "gen", "n_keys", "bloom")
    # pick fresh keys landing in exactly one bucket
    one = with_dedup_key(_mk(spark, [("j", f"http://x/{i}") for i in range(200)]), num_buckets)
    target = one.select("bucket").first().bucket
    one = one.filter(F.col("bucket") == target)
    merged = merge_bloom_shards(state0, one)
    before = {(r.bucket, r.gen): r.bloom for r in state0.collect()}
    for r in merged.collect():
        if r.bucket != target:
            assert not r.updated
            assert r.bloom == before[(r.bucket, r.gen)]
    assert any(r.updated for r in merged.collect() if r.bucket == target)


def test_generation_fpp_tightening():
    """Scalable-bloom growth must tighten per-generation density: generation
    g is sized at 10 + 2g bits/key (Almeida 2007 geometric fpp bound) and
    each new generation's CAPACITY doubles the previous one's."""
    import numpy as np

    from anycrawl_spark.operators.seen import (
        GEN_GROWTH, _gen_bits_per_key, merge_bucket,
    )

    gens = {}  # gen -> (n_keys, bloom) of one bucket
    h = 0
    for _ in range(30):  # enough rounds to force several generations
        keys = np.arange(h, h + 400, dtype=np.int64)
        h += 400
        g, n, bloom = merge_bucket([(g, *gens[g]) for g in sorted(gens)], keys)
        gens[g] = (n, bloom)
    assert len(gens) >= 3, "expected multiple generations"
    caps = []
    for g in sorted(gens):
        n_keys, bloom = gens[g]
        m_bits = len(bloom) * 8
        caps.append(m_bits // _gen_bits_per_key(g))
        # frozen (non-newest) generations were filled to their design load,
        # so observed bits/key >= the generation's tightened target
        if g < max(gens):
            assert m_bits / n_keys >= _gen_bits_per_key(g) * 0.99
    for prev, nxt in zip(caps, caps[1:]):
        assert nxt >= prev * GEN_GROWTH * 0.99


def _merge_both_ways(spark, num_buckets, batches):
    """Merge keyed batches round by round with ShardBroadcast.merge and with
    merge_bloom_shards; assert identical updated and full-state rows each
    round (the driver gets its keys reversed); return the final rows."""
    import numpy as np

    from anycrawl_spark.operators.seen import ShardBroadcast, merge_bloom_shards

    driver = ShardBroadcast(spark)
    state = None
    try:
        for rnd, keyed in enumerate(batches):
            merged = merge_bloom_shards(state, keyed).localCheckpoint()
            keys = np.array([r.dedup_hash for r in keyed.collect()], dtype=np.int64)
            updated = driver.merge(keys[::-1].copy(), num_buckets)
            assert sorted(updated) == sorted(
                (r.bucket, r.gen, r.n_keys, bytes(r.bloom))
                for r in merged.filter("updated").collect()
            ), rnd
            state = merged.select("bucket", "gen", "n_keys", "bloom")
            assert driver.rows() == sorted(
                (r.bucket, r.gen, r.n_keys, bytes(r.bloom)) for r in state.collect()
            ), rnd
        assert driver.nbytes == sum(len(blob) for *_, blob in driver.rows())
        return driver.rows()
    finally:
        driver.close()


def test_driver_merge_matches_spark_merge(spark):
    """ShardBroadcast.merge (the crawl's driver-resident state) and
    merge_bloom_shards give identical (bucket, gen, n_keys, bloom) rows from
    the same state and keys — new buckets, in-place merges and generation
    rollovers alike, at 4 and at 4096 buckets — whatever order the keys
    arrive in."""
    import numpy as np

    # ~10 keys per bucket open generation 0 (1024 bits, capacity 102);
    # 20 more merge in place; 400 more overflow it into generation 1
    rows = _merge_both_ways(spark, 4, [
        with_dedup_key(
            _mk(spark, [("j", f"http://h/{rnd}/{i}") for i in range(n)]), 4
        )
        for rnd, n in enumerate((40, 20, 400, 30))
    ])
    assert {g for _, g, _, _ in rows} == {0, 1}

    # 4096 buckets: every bucket opens generation 0, then merges in place;
    # 300 keys of bucket 7 roll it over into generation 1
    rng = np.random.default_rng(5)

    def keyed(hashes):
        return spark.createDataFrame(pd.DataFrame({"dedup_hash": hashes})).withColumn(
            "bucket", F.pmod("dedup_hash", F.lit(4096)).cast("int")
        )

    rows = _merge_both_ways(spark, 4096, [
        keyed(rng.integers(-(2**62), 2**62, 40_000, dtype=np.int64)),
        keyed(rng.integers(-(2**62), 2**62, 8_000, dtype=np.int64)),
        keyed(7 + 4096 * rng.integers(-(2**40), 2**40, 300, dtype=np.int64)),
        keyed(rng.integers(-(2**62), 2**62, 50, dtype=np.int64)),
    ])
    assert len({b for b, *_ in rows}) == 4096
    assert {(b, g) for b, g, _, _ in rows if g > 0} == {(7, 1)}


def test_long_bucket_state_merges_like_int_state(spark):
    """A shard state whose ``bucket`` is LongType (rows built from pandas
    without SHARD_SCHEMA) merges to the same rows as the IntegerType state
    when the merge's cogroup spans several shuffle partitions: the long
    bucket must not hash to other partitions than the fresh keys' int one
    and open a duplicate generation 0."""
    from anycrawl_spark.operators.seen import SHARD_SCHEMA, merge_bloom_shards

    num_buckets = 8
    base = with_dedup_key(
        _mk(spark, [("j", f"http://h/{i}") for i in range(400)]), num_buckets
    )
    state_rows = [
        (r.bucket, r.gen, r.n_keys, bytes(r.bloom))
        for r in merge_bloom_shards(None, base).collect()
    ]
    int_state = spark.createDataFrame(state_rows, SHARD_SCHEMA)
    long_state = spark.createDataFrame(
        pd.DataFrame(state_rows, columns=SHARD_SCHEMA.fieldNames())
    )
    assert dict(long_state.dtypes)["bucket"] == "bigint"
    fresh = with_dedup_key(
        _mk(spark, [("j", f"http://x/{i}") for i in range(300)]), num_buckets
    )
    dirty = sorted({r.bucket for r in fresh.select("bucket").collect()})
    confs = {"spark.sql.shuffle.partitions": "4", "spark.sql.adaptive.enabled": "false"}
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        for dirty_buckets in (None, dirty):
            want, got = (
                sorted(
                    (r.bucket, r.gen, r.n_keys, bytes(r.bloom), r.updated)
                    for r in merge_bloom_shards(state, fresh, dirty_buckets).collect()
                )
                for state in (int_state, long_state)
            )
            assert got == want, dirty_buckets
            assert len(want) == len(state_rows)
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_driver_merge_without_keys_keeps_broadcast(spark):
    """A merge with no fresh key changes no generation, so the live
    broadcast stays; an empty map's first merge still broadcasts one for the
    probe to read."""
    import numpy as np

    from anycrawl_spark.operators.seen import ShardBroadcast

    none = np.array([], dtype=np.int64)
    driver = ShardBroadcast(spark)
    try:
        assert driver.merge(none, 4) == [] and driver.bc is not None
        first = driver.bc
        assert driver.merge(np.arange(10, dtype=np.int64), 4)
        live = driver.bc
        assert live is not first
        assert driver.merge(none, 4) == [] and driver.bc is live
    finally:
        driver.close()
