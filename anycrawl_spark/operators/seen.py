"""URL-seen filter: partitioned bloom/cuckoo shards + exact anti-join (SURVEY §2.3 J1).

The reference dedups inside Crawlee's RequestQueueV2 on
``${jobId}-${computeUniqueKey(url)}`` (reference: packages/scrape/src/engines/
Base.ts:413-441). At 10^10 seen keys a bare ``left_anti`` join shuffles the
full candidate set against the full seen table every round; this module holds
the scale path mandated by north_rule ("partitioned bloom/cuckoo URL-seen
filter") as ONE dataflow, each step parameterized by the filter's numpy
kernels (bloom here, delete-capable cuckoo in ``seen_cuckoo.py``):

1. ``seen`` is hash-bucketed on ``pmod(dedup_hash, num_buckets)``; a bucket
   holds binary blobs — bloom generations (~1.2 bytes/key at 10 bits/key,
   fpp ~1%) or one cuckoo table.
2. The probe attaches ``maybe_seen`` (hits OR over a bucket's blobs): a
   scalar pandas UDF over the ``{bucket: [blob, ...]}`` broadcast map while
   it fits ``BROADCAST_SHARDS_MAX_BYTES``, else a cogroup on the bucket key
   that sends only keys through Arrow — never a 12 GB broadcast.
3. ``split_fresh``: negatives are fresh outright (no false negatives);
   positives take the exact ``left_anti`` against seen, which so sees only
   (dup_rate + fpp) of the candidates.
4. ``merge_shards``: a round's keys cogroup with only the dirty buckets'
   rows; clean buckets never cross the Arrow boundary.

Bloom state is maintained INCREMENTALLY across rounds: each bucket holds a
list of generations (scalable bloom filters, Almeida et al. 2007), and
fresh keys OR-merge into the newest generation of dirtied buckets only
(``merge_bucket``); nothing rescans the lifetime seen set. The kernel runs
on the driver (``ShardBroadcast.merge``) while the blobs fit the broadcast
cap and the crawl's rounds its driver-merge key bound, and as a cogroup
(``merge_bloom_shards``) past them — at production scale an Iceberg table
of binary rows kept current by a per-round MERGE of the dirty generations.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_K = 7            # hash probes per key (optimal for ~10 bits/key)
BITS_PER_KEY = 10      # generation-0 design load, ~0.8% fpp at k=7
DEFAULT_BUCKETS = 32   # local test default; 4096 at 10^10 scale

# Scalable-bloom fpp tightening (Almeida et al. 2007 §3): probes OR across
# generations, so the union fpp is the SUM of per-generation fpps — sized at a
# flat 10 bits/key that sum grows ~n_gens x 0.8%. Bounding it requires each
# new generation's fpp to shrink geometrically; with k fixed at 7, fpp(b bits/
# key) = (1 - e^(-7/b))^7, and +2 bits/key multiplies it by ~0.45 per step
# (10->0.82%, 12->0.37%, 14->0.17%, ...). Geometric ratio r~0.45 bounds the
# union at fpp0/(1-r) ~ 1.5% no matter how many generations accumulate.
GEN_TIGHTEN_BITS = 2


def _gen_bits_per_key(gen: int) -> int:
    return BITS_PER_KEY + GEN_TIGHTEN_BITS * gen

SHARD_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("gen", T.IntegerType()),
        T.StructField("n_keys", T.LongType()),
        T.StructField("bloom", T.BinaryType()),
    ]
)

# merge output = SHARD_SCHEMA + a dirty flag so callers can persist ONLY the
# generations this round touched (Iceberg MERGE analog)
MERGED_SHARD_SCHEMA = T.StructType(
    list(SHARD_SCHEMA.fields) + [T.StructField("updated", T.BooleanType())]
)


def with_dedup_key(df: DataFrame, num_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Attach the composite per-job dedup hash + its shard bucket.

    ``dedup_hash = xxhash64(job_id, url_hash)`` — JVM-side, mirrors the
    reference's jobId-scoped uniqueKey (Base.ts:420).
    """
    return df.withColumn("dedup_hash", F.xxhash64("job_id", "url_hash")).withColumn(
        "bucket", F.pmod(F.col("dedup_hash"), F.lit(num_buckets)).cast("int")
    )


def _bloom_params(n_keys: int, bits_per_key: int = BITS_PER_KEY) -> int:
    m_bits = max(1024, n_keys * bits_per_key)
    return (m_bits + 63) // 64 * 64


def _bit_positions(hashes: np.ndarray, m_bits: int) -> Iterator[np.ndarray]:
    """Double hashing: pos_i = (h1 + i*h2) mod m, vectorized over all keys."""
    h = hashes.astype(np.uint64)
    h1 = h % np.uint64(m_bits)
    h2 = (h >> np.uint64(17) | np.uint64(1)) % np.uint64(m_bits)
    for i in range(BLOOM_K):
        yield ((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bits: np.ndarray, hashes: np.ndarray) -> bytes:
    """OR every key's BLOOM_K bits into ``bits`` (in place); return its bytes."""
    for pos in _bit_positions(hashes, len(bits) * 8):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits.tobytes()


def _probe_blob(hs: np.ndarray, blob: bytes) -> np.ndarray:
    bits = np.frombuffer(blob, dtype=np.uint8)
    m_bits = len(bits) * 8
    hit = np.ones(len(hs), dtype=bool)
    for pos in _bit_positions(hs, m_bits):
        hit &= (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
    return hit


# -- incremental shard maintenance (scalable-bloom generations) -------------
#
# Per-round maintenance must cost O(fresh keys + dirtied blobs), never
# O(|seen|): rebuilding every shard from the full seen set each round is a
# full-table scan + rehash of 10^10 keys (the exact failure mode docs/SCALE.md
# rules out). Instead each bucket holds a list of bloom GENERATIONS
# (scalable bloom filters, Almeida et al. 2007, public): fresh keys are
# OR-merged into the newest generation while it has capacity; when it fills, a
# new generation sized for growth is opened. Untouched buckets pass through
# without their blobs being copied or rewritten.

GEN_GROWTH = 2  # each new generation doubles the previous capacity


def merge_bucket(
    gens: list[tuple[int, int, bytes]], keys: np.ndarray
) -> tuple[int, int, bytes]:
    """One bucket's ``(gen, n_keys, bloom)`` generations, in gen order, + this
    round's fresh keys -> the one generation that changes. The keys OR into
    the newest generation while it has capacity; an empty bucket or a full
    newest generation (kept read-only) opens the next one — capacity grows
    GEN_GROWTH x AND the per-key density tightens by GEN_TIGHTEN_BITS, so the
    union fpp stays geometrically bounded."""
    if not gens:
        gen, grow_bits = 0, 0
    else:
        gen, n_keys, bloom = gens[-1]
        cap = len(bloom) * 8 // _gen_bits_per_key(gen)
        if n_keys + len(keys) <= cap:
            bits = np.frombuffer(bloom, dtype=np.uint8).copy()
            return gen, n_keys + len(keys), _set_bits(bits, keys)
        gen += 1
        grow_bits = (cap * GEN_GROWTH * _gen_bits_per_key(gen) + 63) // 64 * 64
    m_bits = max(_bloom_params(len(keys), _gen_bits_per_key(gen)), grow_bits)
    return gen, len(keys), _set_bits(np.zeros(m_bits // 8, dtype=np.uint8), keys)


# -- the shard dataflow both filters share ------------------------------------
#
# A filter brings its shard rows (``bucket`` + a binary blob column), a probe
# kernel ``(keys, blob) -> hits`` for one blob, and a cogroup merge kernel.

# shard sets up to this many bytes ride an sc.broadcast; above it, the
# cogrouped co-partitioned probe takes over (the 10^10-key regime, where the
# shard table itself is ~12 GB and must never be broadcast)
BROADCAST_SHARDS_MAX_BYTES = 256 * 1024 * 1024


def broadcast_shards(shards: DataFrame, blob: str = "bloom"):
    """Collect + broadcast the ``{bucket: [blob, ...]}`` map once (reusable
    across rounds): a bloom bucket's generations, a cuckoo bucket's table."""
    shard_map: dict[int, list[bytes]] = {}
    for b, data in shards.select("bucket", blob).collect():
        shard_map.setdefault(b, []).append(data)
    return shards.sparkSession.sparkContext.broadcast(shard_map)


def _probe_blobs(probe_blob, blobs, hs: np.ndarray) -> np.ndarray:
    """One bucket's verdicts: a key may sit in any of its blobs, so hits OR."""
    hit = np.zeros(len(hs), dtype=bool)
    for blob in blobs:
        hit |= probe_blob(hs, blob)
    return hit


def _broadcast_probe(cand: DataFrame, bc, probe_blob) -> DataFrame:
    """Probe via the broadcast shard map + scalar pandas UDF.

    Bandwidth: a scalar pandas UDF ships ONLY its input columns through Arrow
    — 16 bytes/row out, 1 byte/row back; the shard bytes reach each worker
    once via sc.broadcast. No shuffle, no join-back. This is the fast path
    whenever the shard set fits in memory (i.e., any seen-set below ~10^8-10^9
    keys); beyond that ``_cogroup_probe`` keeps the same dataflow co-partitioned.
    """

    @F.pandas_udf(T.BooleanType())
    def probe(bucket: pd.Series, dedup_hash: pd.Series) -> pd.Series:
        shard_map = bc.value
        bk = bucket.to_numpy()
        keys = dedup_hash.to_numpy()
        out = np.zeros(len(bk), dtype=bool)
        for b in np.unique(bk):
            blobs = shard_map.get(int(b))
            if blobs:  # a bucket that never saw anything stays False
                idxs = np.nonzero(bk == b)[0]
                out[idxs] = _probe_blobs(probe_blob, blobs, keys[idxs])
        return pd.Series(out)

    return cand.withColumn("maybe_seen", probe(F.col("bucket"), F.col("dedup_hash")))


def _cogroup_probe(cand: DataFrame, shards: DataFrame, probe_blob, blob: str) -> DataFrame:
    """Probe via cogroup on the bucket key + hash-join of verdicts — the
    co-partitioned scale path (shards travel once per bucket, never
    broadcast).

    Two bandwidth decisions, both load-bearing at 10^10 keys:
    - the shard blobs cross the wire ONCE per bucket (cogroup), never once
      per candidate row;
    - only the 8-byte dedup_hash keys round-trip through Arrow — candidate
      payload columns never leave the JVM (the verdict is joined back on the
      hash). Measured locally this is the difference between a ~1.2 GB and a
      ~64 MB Python transfer per 8M candidates.
    """

    def verdicts(keys: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
        hs = keys["dedup_hash"].to_numpy(dtype=np.int64)
        return pd.DataFrame(
            {"dedup_hash": hs, "maybe_seen": _probe_blobs(probe_blob, shard[blob], hs)}
        )

    probed = (
        cand.select("bucket", "dedup_hash")
        .distinct()
        .groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(verdicts, schema="dedup_hash long, maybe_seen boolean")
    )
    return cand.join(probed, "dedup_hash")


def probe_shards(
    cand: DataFrame, strategy: str, shards: DataFrame | None, bc, probe_blob, blob: str
) -> DataFrame:
    """Attach ``maybe_seen`` to keyed candidates. ``strategy='broadcast'``
    reads the live ``bc`` (or collects + broadcasts ``shards`` when there is
    none); ``'cogroup'`` cogroups with ``shards``."""
    if strategy == "broadcast":
        if bc is None:
            bc = broadcast_shards(shards, blob)
        return _broadcast_probe(cand, bc, probe_blob)
    return _cogroup_probe(cand, shards, probe_blob, blob)


def split_fresh(probed: DataFrame, seen: DataFrame) -> DataFrame:
    """Probed candidates -> the candidate rows NOT in ``seen``: negatives are
    fresh outright, positives go through the exact anti-join. Drops the
    helper key columns."""
    definitely_fresh = probed.filter(~F.col("maybe_seen"))
    needs_exact = probed.filter(F.col("maybe_seen")).join(
        seen.select("job_id", "url_hash"), ["job_id", "url_hash"], "left_anti"
    )
    result = definitely_fresh.unionByName(needs_exact)
    return result.drop("maybe_seen", "dedup_hash", "bucket")


def merge_shards(
    shards: DataFrame,
    ops: DataFrame,
    merge_group,
    schema: T.StructType,
    dirty_buckets: list[int] | None = None,
) -> DataFrame:
    """Merge one round's keyed ``ops`` into the shard state: each dirty
    bucket's ops cogroup with its rows through ``merge_group``, which returns
    that bucket's ``schema`` rows; clean buckets pass through with the
    schema's boolean flag columns False.

    Dirty/clean split: buckets with no ops this round pass through without
    their blobs ever crossing the Arrow boundary — late-crawl rounds touch
    few buckets, and at 4096 buckets this is most of the state. Callers that
    already know the dirty-bucket list (the crawl driver collects it from
    the cached fresh set — <= num_buckets ints) pass it in, turning the
    split into two scan filters; otherwise a broadcast semi/anti join
    derives it without any driver action.
    """
    # the cogroup pairs the two sides by the hash of the bucket value, and a
    # long bucket (state built without the filter's schema) hashes to other
    # partitions than the ops' int one: the dirty buckets would meet no rows
    shards = shards.withColumn("bucket", F.col("bucket").cast("int"))
    if dirty_buckets is not None:
        dirty = shards.filter(F.col("bucket").isin(dirty_buckets))
        clean = shards.filter(~F.col("bucket").isin(dirty_buckets))
    else:
        op_buckets = F.broadcast(ops.select("bucket").distinct())
        dirty = shards.join(op_buckets, "bucket", "semi")
        clean = shards.join(op_buckets, "bucket", "anti")
    clean = clean.select(
        *[F.lit(False).alias(f.name) if isinstance(f.dataType, T.BooleanType) else f.name
          for f in schema]
    )
    merged_dirty = (
        ops.groupBy("bucket")
        .cogroup(dirty.groupBy("bucket"))
        .applyInPandas(merge_group, schema=schema)
    )
    return merged_dirty.unionByName(clean)


# -- bloom: the shard dataflow over merge_bucket and _probe_blob --------------


def _build_group(pdf: pd.DataFrame) -> pd.DataFrame:
    row = (int(pdf["bucket"].iloc[0]), *merge_bucket([], pdf["dedup_hash"].to_numpy()))
    return pd.DataFrame([row], columns=SHARD_SCHEMA.fieldNames())


def build_bloom_shards(seen_keyed: DataFrame) -> DataFrame:
    """seen rows (with dedup_hash+bucket) -> one bloom row per bucket."""
    return (
        seen_keyed.select("bucket", "dedup_hash")
        .groupBy("bucket")
        .applyInPandas(_build_group, schema=SHARD_SCHEMA)
    )


def _merge_group(fresh: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
    """One bucket's fresh keys + generation rows -> its MERGED_SHARD_SCHEMA
    rows, ``updated`` on the generation ``merge_bucket`` changed."""
    bucket = int((fresh if len(fresh) else shard)["bucket"].iloc[0])
    gens = sorted(zip(shard["gen"].tolist(), shard["n_keys"].tolist(), shard["bloom"]))
    new = merge_bucket(gens, fresh["dedup_hash"].to_numpy()) if len(fresh) else None
    rows = [(bucket, *g, False) for g in gens if new is None or g[0] != new[0]]
    if new is not None:
        rows.append((bucket, *new, True))
    return pd.DataFrame(rows, columns=MERGED_SHARD_SCHEMA.fieldNames())


def merge_bloom_shards(
    shards: DataFrame | None,
    fresh_keyed: DataFrame,
    dirty_buckets: list[int] | None = None,
) -> DataFrame:
    """OR-merge one round's fresh keys into the persisted shard state.

    ``shards``: current state (SHARD_SCHEMA rows; None on first round).
    ``fresh_keyed``: this round's fresh keys with dedup_hash+bucket attached.
    Returns MERGED_SHARD_SCHEMA rows — the FULL new state; rows with
    ``updated`` are the only ones that need persisting (Iceberg MERGE writes
    exactly these). Cogrouped on the bucket key (``merge_shards``), so each
    dirty bucket's blob crosses the wire once and clean buckets' blobs aren't
    copied at all.
    """
    if shards is None:
        shards = fresh_keyed.sparkSession.createDataFrame([], SHARD_SCHEMA)
    return merge_shards(
        shards, fresh_keyed.select("bucket", "dedup_hash"), _merge_group,
        MERGED_SHARD_SCHEMA, dirty_buckets,
    )


class ShardBroadcast:
    """Driver-resident shard state + its live sc.broadcast: while the shard
    bytes stay under ``BROADCAST_SHARDS_MAX_BYTES`` this map IS the crawl's
    shard state, merged on the driver (``merge``) instead of by a Spark job.

    ``broadcast_shards`` re-collects the FULL shard state (all generations of
    all buckets) on every call — O(shard bytes) of driver traffic per round
    even when one bucket changed, and the superseded broadcast variables are
    never unpersisted, so executor memory grows with crawl length. This class
    is the cross-round fix: the driver keeps ``{bucket: {gen: (n_keys,
    blob)}}``, ``apply_delta`` patches only changed generations,
    re-broadcasts the patched map (Spark broadcasts are immutable, so a new
    variable per round is the floor), and retires the predecessor: unpersist
    immediately, destroy one round later (never while a straggler task from
    the previous round might still deserialize it). ``nbytes`` tracks blob
    bytes incrementally so the caller can hand off to the Spark-resident
    state past the broadcast cap without a scan.
    """

    def __init__(self, spark):
        self._spark = spark
        self._map: dict[int, dict[int, tuple[int, bytes]]] = {}
        self._bc = None
        self._retiring = None  # unpersisted last round; destroyed next round
        self.nbytes = 0

    def apply_delta(self, delta_rows) -> None:
        """Patch (bucket, gen, n_keys, bloom) rows into the map and
        re-broadcast."""
        for bucket, gen, n_keys, bloom in delta_rows:
            gens = self._map.setdefault(bucket, {})
            old = gens.get(gen)
            if old is not None:
                self.nbytes -= len(old[1])
            gens[gen] = (n_keys, bloom)
            self.nbytes += len(bloom)
        if self._retiring is not None:
            self._retiring.destroy(blocking=False)
        self._retiring = self._bc
        if self._retiring is not None:
            self._retiring.unpersist(blocking=False)
        self._bc = self._spark.sparkContext.broadcast(
            {b: [blob for _, blob in gens.values()] for b, gens in self._map.items()}
        )

    def merge(self, dedup_hash: np.ndarray, num_buckets: int) -> list[tuple]:
        """OR-merge one round's fresh keys into the map and re-broadcast;
        returns the updated (bucket, gen, n_keys, bloom) generations.

        The driver twin of ``merge_bloom_shards``: keys group by
        ``pmod(dedup_hash, num_buckets)`` and each dirty bucket runs the same
        ``merge_bucket``, so both give identical rows (bits are an OR over
        keys, ``n_keys`` a sum; key order cannot matter)."""
        buckets = np.mod(dedup_hash, num_buckets)
        order = np.argsort(buckets, kind="stable")
        dirty, starts = np.unique(buckets[order], return_index=True)
        updated = []
        for b, hs in zip(dirty.tolist(), np.split(dedup_hash[order], starts[1:])):
            gens = self._map.get(b, {})
            gen_rows = [(g, *gens[g]) for g in sorted(gens)]
            updated.append((b, *merge_bucket(gen_rows, hs)))
        if updated or self._bc is None:
            # no key, no change: a live broadcast stays as it is
            self.apply_delta(updated)
        return updated

    def rows(self) -> list[tuple]:
        """The full state as (bucket, gen, n_keys, bloom) rows in key order."""
        return [
            (b, g, n, blob)
            for b in sorted(self._map)
            for g, (n, blob) in sorted(self._map[b].items())
        ]

    @property
    def bc(self):
        return self._bc

    def close(self) -> None:
        for var in (self._retiring, self._bc):
            if var is not None:
                var.unpersist(blocking=False)
                var.destroy(blocking=False)
        self._retiring = self._bc = None
        self._map = {}
        self.nbytes = 0


def probe_seen(
    candidates: DataFrame,
    seen: DataFrame,
    num_buckets: int = DEFAULT_BUCKETS,
    *,
    strategy: str,
    shards: DataFrame | None = None,
    shards_bc=None,
) -> DataFrame:
    """Attach the dedup key (``dedup_hash``, ``bucket``) and the bloom
    verdict ``maybe_seen`` to every candidate — the first half of
    ``filter_fresh``. ``split_fresh`` reads the result twice (once per
    verdict), so a caller that persists it evaluates the candidate chain and
    the probe once instead of once per branch."""
    cand = with_dedup_key(candidates, num_buckets)
    if shards is None and (shards_bc is None or strategy != "broadcast"):
        seen_keyed = with_dedup_key(seen.select("job_id", "url_hash"), num_buckets)
        shards = build_bloom_shards(seen_keyed)
    return probe_shards(cand, strategy, shards, shards_bc, _probe_blob, "bloom")


def filter_fresh(
    candidates: DataFrame,
    seen: DataFrame,
    num_buckets: int = DEFAULT_BUCKETS,
    *,
    strategy: str,
    shards: DataFrame | None = None,
    shards_bc=None,
) -> DataFrame:
    """Return candidate rows whose (job_id, url_hash) is NOT in ``seen``.

    ``candidates``/``seen`` must carry job_id + url_hash. Output preserves
    candidate columns (minus helper keys). ``strategy``: 'broadcast' while
    the shard set fits ``BROADCAST_SHARDS_MAX_BYTES``, else 'cogroup'.
    Pass ``shards`` (from ``build_bloom_shards``) to reuse cross-round shard
    state — in production the shard table is maintained incrementally, not
    rebuilt from the full seen set every round. ``shards_bc``: a live
    ``sc.broadcast`` of the shard map (e.g. ``ShardBroadcast.bc``) so the
    broadcast strategy skips the full collect+re-broadcast per call.

    Both verdict branches re-evaluate the probe (and everything upstream of
    it); callers that can hold the probed candidates in memory call
    ``probe_seen`` + persist + ``split_fresh`` instead (the crawl driver does).
    """
    probed = probe_seen(
        candidates, seen, num_buckets, strategy=strategy, shards=shards,
        shards_bc=shards_bc,
    )
    return split_fresh(probed, seen)
