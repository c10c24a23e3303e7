"""URL-seen filter, cuckoo variant: delete-capable partitioned shards.

north_rule names a "partitioned bloom/cuckoo URL-seen filter"; `seen.py` is
the bloom half (append-only generations). This module is the cuckoo half
(Fan et al. 2014, "Cuckoo Filter: Practically Better Than Bloom", public),
and exists for the one capability bloom structurally lacks: **deletion**.
The expiry sweep (SURVEY §2.2 F11 — the reference re-queues URLs whose crawl
records expire) removes rows from the exact ``seen`` table, but a bloom
prefilter keeps answering "maybe seen" for them until a full generation
rebuild; a cuckoo shard deletes the fingerprint in place, so re-crawl
candidates pass the prefilter immediately.

The shard dataflow is ``seen.py``'s, shared with the bloom filter:
``dedup_hash = xxhash64(job_id, url_hash)`` bucketed by ``pmod(dedup_hash,
num_buckets)``; one binary row per bucket; the broadcast or cogroup probe
(16 bytes/row through Arrow, 1 back); positives re-checked by
``split_fresh``'s exact anti-join, so the *output* of ``filter_fresh_cuckoo``
is exact regardless of the filter's false-positive rate (no false negatives:
a cuckoo filter stores every inserted fingerprint until deleted); the
dirty/clean cogroup merge. This module holds only what is cuckoo's: the
fingerprints, insert / delete / eviction, the table probe, the merge kernel
and the overflow rebuild.

Per-shard layout (standard CF): ``nb`` buckets (power of two) x 4 slots of
16-bit fingerprints (uint16 numpy array; 0 = empty, fingerprints forced
nonzero). Partial-key cuckoo hashing: ``i1 = (splitmix(h) >> 32) & (nb-1)``
(scrambled — the raw low bits are the SHARD key and must not address the
table), ``i2 = i1 ^ scramble(fp)`` — the alternate index is derivable from (index,
fingerprint) alone, which is what makes deletion and eviction work without
the original key.

Scale accounting (docs/SCALE.md): ~2.4 bytes/key at 0.84 target load with
1.5x headroom (vs bloom's ~1.2), for fpp ~= 2*4/2^16 ~= 0.012%% (80x better
than the bloom generations' ~1%%) plus deletability. Growth: a cuckoo table
cannot be doubled losslessly from fingerprints (the high index bit of ``h``
is gone — known CF limitation), so an overflowing SHARD is rebuilt from that
bucket's slice of the exact seen table — O(bucket keys), the same cost class
as opening a bloom generation, never O(|seen|). Reference dedup semantics
mirrored: packages/scrape/src/engines/Base.ts:413-441 (jobId-scoped
uniqueKey), managers/Progress.ts expiry re-queue.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from anycrawl_spark.operators.seen import (
    DEFAULT_BUCKETS,
    merge_shards,
    probe_shards,
    split_fresh,
    with_dedup_key,
)

SLOTS = 4                 # slots per cuckoo bucket (Fan et al. §5: 4 is the sweet spot)
TARGET_LOAD = 0.84        # max occupancy before insert failures spike (4-way figure)
HEADROOM = 1.5            # build-time growth room so early rounds merge in place
MAX_KICKS = 500           # eviction chain cap before declaring overflow
_FP_MUL = np.uint64(0x5BD1E995)  # MurmurHash2 multiplier (public) for fp scramble
# splitmix64 / golden-ratio multiplier (public) scrambles the key before the
# in-table index is taken: the SHARD key is pmod(dedup_hash, num_buckets) —
# the hash's LOW bits — so taking i1 from raw low bits would leave only
# 1/num_buckets of each table's rows addressable (8x load concentration,
# measured as spurious overflows). i1 therefore comes from the scrambled
# hash's HIGH bits, which are independent of the shard key.
_IDX_MUL = np.uint64(0x9E3779B97F4A7C15)

CUCKOO_SHARD_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("table", T.BinaryType()),
    ]
)

MERGED_CUCKOO_SCHEMA = T.StructType(
    list(CUCKOO_SHARD_SCHEMA.fields)
    + [T.StructField("updated", T.BooleanType()), T.StructField("overflow", T.BooleanType())]
)


def _fp_i1_i2(hashes: np.ndarray, nb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Fingerprint + both candidate bucket indices, vectorized."""
    h = hashes.astype(np.uint64)
    fp = ((h >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)  # 0 is the empty-slot marker
    mask = np.uint64(nb - 1)
    i1 = (((h * _IDX_MUL) >> np.uint64(32)) & mask).astype(np.int64)
    alt = ((fp.astype(np.uint64) * _FP_MUL) & mask).astype(np.int64)
    return fp, i1, i1 ^ alt


def _alt_index(i: int, fp: int, nb: int) -> int:
    return i ^ int((np.uint64(fp) * _FP_MUL) & np.uint64(nb - 1))


def _num_buckets_for(n_keys: int, headroom: float = HEADROOM) -> int:
    need = max(4, int(n_keys * headroom / TARGET_LOAD / SLOTS) + 1)
    nb = 1
    while nb < need:
        nb <<= 1
    return nb


def _insert_one(tbl: np.ndarray, nb: int, fp: int, i1: int, i2: int) -> bool:
    """Insert one fingerprint; eviction chain on full buckets. Deterministic
    (victim slot cycles with the kick count — no RNG, so shard blobs are
    reproducible run-to-run)."""
    for i in (i1, i2):
        base = i * SLOTS
        for s in range(SLOTS):
            if tbl[base + s] == 0:
                tbl[base + s] = fp
                return True
    i = i2
    for kick in range(MAX_KICKS):
        base = i * SLOTS
        s = kick % SLOTS
        victim = int(tbl[base + s])
        tbl[base + s] = fp
        fp = victim
        i = _alt_index(i, fp, nb)
        base = i * SLOTS
        for s2 in range(SLOTS):
            if tbl[base + s2] == 0:
                tbl[base + s2] = fp
                return True
    return False  # overflow: caller rebuilds this shard at 2x from source keys


def _delete_one(tbl: np.ndarray, fp: int, i1: int, i2: int) -> bool:
    """Clear ONE matching fingerprint (CF delete semantics: only safe for keys
    actually inserted — the engine deletes only rows it removes from the exact
    seen table, which guarantees that)."""
    for i in (i1, i2):
        base = i * SLOTS
        for s in range(SLOTS):
            if tbl[base + s] == fp:
                tbl[base + s] = 0
                return True
    return False


def _build_table(hashes: np.ndarray, nb: int | None = None) -> tuple[np.ndarray, int]:
    # The filter is a SET: duplicate keys add nothing, and >8 copies of one
    # key can never fit its 2 buckets x 4 slots — without this dedup the
    # grow-and-retry loop below would double nb forever on such input.
    hashes = np.unique(hashes)
    if nb is None:
        nb = _num_buckets_for(len(hashes))
    while True:
        tbl = np.zeros(nb * SLOTS, dtype=np.uint16)
        fps, i1s, i2s = _fp_i1_i2(hashes, nb)
        ok = all(
            _insert_one(tbl, nb, int(fps[j]), int(i1s[j]), int(i2s[j]))
            for j in range(len(hashes))
        )
        if ok:
            return tbl, nb
        nb <<= 1  # build-time overflow (duplicate-heavy input): just go bigger


def _probe_table(tbl: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Vectorized membership: 8 gathers (4 slots x 2 buckets), no per-key loop."""
    nb = len(tbl) // SLOTS
    fps, i1s, i2s = _fp_i1_i2(hashes, nb)
    hit = np.zeros(len(hashes), dtype=bool)
    for s in range(SLOTS):
        hit |= tbl[i1s * SLOTS + s] == fps
        hit |= tbl[i2s * SLOTS + s] == fps
    return hit


def _probe_blob(hashes: np.ndarray, blob: bytes) -> np.ndarray:
    return _probe_table(np.frombuffer(blob, dtype=np.uint16), hashes)


def _table_row(bucket: int, hashes: np.ndarray, nb: int | None = None) -> dict:
    """One bucket's CUCKOO_SHARD_SCHEMA columns, its table built from the set
    of ``hashes``."""
    hashes = np.unique(hashes)
    tbl, _ = _build_table(hashes, nb)
    return {"bucket": [bucket], "n_keys": [len(hashes)], "table": [tbl.tobytes()]}


def _build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame(_table_row(int(pdf["bucket"].iloc[0]), pdf["dedup_hash"].to_numpy()))


def build_cuckoo_shards(seen_keyed: DataFrame) -> DataFrame:
    """seen rows (with dedup_hash+bucket attached) -> one cuckoo row per bucket."""
    return (
        seen_keyed.select("bucket", "dedup_hash")
        .groupBy("bucket")
        .applyInPandas(_build_shard, schema=CUCKOO_SHARD_SCHEMA)
    )


def _merge_kernel(ops: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
    """One bucket: apply this round's deletes then inserts to the shard table.

    On insert overflow the ORIGINAL table is returned with ``overflow=True``
    (never a half-applied one); the caller rebuilds that bucket from the exact
    seen table at the next power of two (``rebuild_overflow_shards``).
    """
    # the cogroup's shard side is semi-joined to op buckets, so every group
    # carries at least one op row — ops is never empty here
    bucket = int(ops["bucket"].iloc[0])
    # set semantics: one stored copy per key, one delete per key (duplicated
    # rows in a round's batch must not insert multiple fingerprint copies)
    ins = np.unique(ops.loc[ops["op"] > 0, "dedup_hash"].to_numpy())
    if shard.empty:
        return pd.DataFrame({**_table_row(bucket, ins), "updated": [True], "overflow": [False]})
    n_keys = int(shard["n_keys"].iloc[0])
    tbl = np.frombuffer(shard["table"].iloc[0], dtype=np.uint16).copy()
    nb = len(tbl) // SLOTS
    dels = np.unique(ops.loc[ops["op"] < 0, "dedup_hash"].to_numpy())
    fps, i1s, i2s = _fp_i1_i2(dels, nb)
    for j in range(len(dels)):  # deletes first: they free slots for inserts
        if _delete_one(tbl, int(fps[j]), int(i1s[j]), int(i2s[j])):
            n_keys -= 1
    fps, i1s, i2s = _fp_i1_i2(ins, nb)
    for j in range(len(ins)):
        if not _insert_one(tbl, nb, int(fps[j]), int(i1s[j]), int(i2s[j])):
            return shard[CUCKOO_SHARD_SCHEMA.fieldNames()].assign(updated=False, overflow=True)
    return pd.DataFrame(
        {"bucket": [bucket], "n_keys": [n_keys + len(ins)], "table": [tbl.tobytes()],
         "updated": [True], "overflow": [False]}
    )


def merge_cuckoo_shards(
    shards: DataFrame | None,
    fresh_keyed: DataFrame | None = None,
    delete_keyed: DataFrame | None = None,
) -> DataFrame:
    """Apply one round's inserts (fresh keys) and deletes (expired keys) to
    the persisted shard state — the Iceberg-MERGE analog, through the bloom
    path's dirty/clean cogroup (``seen.merge_shards``): buckets this round
    never touched pass through without their blobs crossing the Arrow
    boundary.
    """
    ops = [
        keyed.select("bucket", "dedup_hash", F.lit(op).alias("op"))
        for keyed, op in ((fresh_keyed, 1), (delete_keyed, -1))
        if keyed is not None
    ]
    if not ops:
        raise ValueError("merge_cuckoo_shards: nothing to merge")
    ops = reduce(DataFrame.unionByName, ops)
    if shards is None:
        shards = ops.sparkSession.createDataFrame([], CUCKOO_SHARD_SCHEMA)
    return merge_shards(shards, ops, _merge_kernel, MERGED_CUCKOO_SCHEMA)


def _rebuild_shard(keys: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
    nb_old = (len(shard["table"].iloc[0]) // 2 // SLOTS) if not shard.empty else None
    bucket = int(keys["bucket"].iloc[0]) if len(keys) else int(shard["bucket"].iloc[0])
    row = _table_row(bucket, keys["dedup_hash"].to_numpy(), nb_old * 2 if nb_old else None)
    return pd.DataFrame({**row, "updated": [True], "overflow": [False]})


def rebuild_overflow_shards(merged: DataFrame, seen_keyed: DataFrame) -> DataFrame:
    """Rebuild the buckets ``merge_cuckoo_shards`` flagged ``overflow`` at 2x
    capacity from the exact seen table (post-round keys). Cost is O(keys of
    the overflowed buckets) — the seen table is bucketed on the same key, so
    this is a filtered scan + one applyInPandas over only those buckets.
    Returns the full merged state with overflow rows replaced.
    """
    over = merged.filter(F.col("overflow")).select("bucket")
    ok = merged.join(F.broadcast(over), "bucket", "anti")
    rebuilt = (
        seen_keyed.select("bucket", "dedup_hash")
        .join(F.broadcast(over), "bucket", "semi")
        .groupBy("bucket")
        .cogroup(merged.filter(F.col("overflow")).groupBy("bucket"))
        .applyInPandas(_rebuild_shard, schema=MERGED_CUCKOO_SCHEMA)
    )
    return ok.unionByName(rebuilt)


def probe_cuckoo(
    cand: DataFrame, shards: DataFrame | None, bc=None, *, strategy: str
) -> DataFrame:
    """Attach ``maybe_seen`` to keyed candidates through ``seen``'s broadcast
    or cogroup probe; ``bc`` is a live ``seen.broadcast_shards(shards,
    "table")`` map."""
    return probe_shards(cand, strategy, shards, bc, _probe_blob, "table")


def filter_fresh_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    num_buckets: int = DEFAULT_BUCKETS,
    *,
    strategy: str,
    shards: DataFrame | None = None,
    shards_bc=None,
) -> DataFrame:
    """Exact fresh-candidate set via cuckoo prefilter + exact anti-join
    recheck of positives — drop-in alternative to ``seen.filter_fresh``,
    with the same ``strategy`` ('broadcast' | 'cogroup'). ``seen`` must be
    the CURRENT exact key set (post-expiry), matching the shard state the
    caller maintained with ``merge_cuckoo_shards``.

    Broadcast lifecycle: without ``shards_bc`` the broadcast strategy
    allocates a NEW sc.broadcast whose blobs live until session end — fine
    for one-shot queries; a long-running crawl loop must hold/patch its own
    broadcast across rounds and destroy predecessors (the ``ShardBroadcast``
    pattern in seen.py)."""
    cand = with_dedup_key(candidates, num_buckets)
    if shards_bc is None and shards is None:
        shards = build_cuckoo_shards(with_dedup_key(seen, num_buckets))
    return split_fresh(probe_cuckoo(cand, shards, shards_bc, strategy=strategy), seen)
