"""URL-seen filter: partitioned bloom shards + exact anti-join (SURVEY §2.3 J1).

The reference dedups inside Crawlee's RequestQueueV2 on
``${jobId}-${computeUniqueKey(url)}`` (reference: packages/scrape/src/engines/
Base.ts:413-441). At 10^10 seen keys a bare ``left_anti`` join shuffles the
full candidate set against the full seen table every round; this module adds
the scale path mandated by north_rule ("partitioned bloom/cuckoo URL-seen
filter"):

1. ``seen`` is hash-bucketed on ``pmod(dedup_hash, num_buckets)``; each bucket
   builds one bloom bitmap (numpy, vectorized) via ``applyInPandas`` — one
   binary row per bucket, ~1.2 bytes/key at 10 bits/key (fpp ~1%).
2. Candidates (bucketed the same way) join the shard table ON THE BUCKET KEY —
   co-partitioned, so each shard travels once to where its candidates are;
   nothing resembling a 12 GB broadcast at 10^10 scale. Locally Catalyst
   broadcasts the (tiny) shard table, which is also right.
3. ``might_contain`` (pandas UDF, numpy bit probe) splits candidates:
   bloom-negative => definitively fresh (no false negatives, no join needed);
   bloom-positive (true dups + ~1% FP) => exact ``left_anti`` against seen.

Net effect at scale: the expensive anti-join sees only (dup_rate + 1%) of
candidates instead of all of them. Shard state is maintained INCREMENTALLY
across rounds: each bucket holds a list of bloom generations (scalable bloom
filters, Almeida et al. 2007); per round, fresh keys OR-merge into the newest
generation of dirtied buckets only, and nothing rescans the lifetime seen
set. One kernel (``_merge_shard_kernel``) does the merge in two places:

- ``ShardBroadcast.merge`` on the driver, while the shard blobs fit
  ``BROADCAST_SHARDS_MAX_BYTES`` and the crawl's rounds stay under its
  driver-merge key bound — the driver map is then the state the broadcast
  probe reads, and merging there costs no Spark job;
- ``merge_bloom_shards`` as a cogroup over a Spark DataFrame past the cap —
  clean buckets never cross the Arrow boundary. At production scale the
  shard table is an Iceberg table of binary rows kept current by a
  per-round MERGE of exactly the dirty generations.
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


def _build_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    hashes = pdf["dedup_hash"].to_numpy()
    m_bits = _bloom_params(len(hashes))
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for pos in _bit_positions(hashes, m_bits):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return pd.DataFrame(
        {
            "bucket": [int(pdf["bucket"].iloc[0])],
            "gen": [0],
            "n_keys": [len(hashes)],
            "bloom": [bits.tobytes()],
        }
    )


def build_bloom_shards(seen_keyed: DataFrame) -> DataFrame:
    """seen rows (with dedup_hash+bucket) -> one bloom row per bucket."""
    return (
        seen_keyed.select("bucket", "dedup_hash")
        .groupBy("bucket")
        .applyInPandas(_build_shard, schema=SHARD_SCHEMA)
    )


def _probe_blob(hs: np.ndarray, blob: bytes) -> np.ndarray:
    bits = np.frombuffer(blob, dtype=np.uint8)
    m_bits = len(bits) * 8
    hit = np.ones(len(hs), dtype=bool)
    for pos in _bit_positions(hs, m_bits):
        hit &= (bits[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
    return hit


def _probe_cogroup(keys: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
    """Cogrouped probe: one bucket's candidate KEYS + its bloom generation(s).

    Two bandwidth decisions, both load-bearing at 10^10 keys:
    - the shard blobs cross the wire ONCE per bucket (cogroup), never once
      per candidate row;
    - only the 8-byte dedup_hash keys round-trip through Arrow — candidate
      payload columns never leave the JVM (the verdict is joined back on the
      hash). Measured locally this is the difference between a ~1.2 GB and a
      ~64 MB Python transfer per 8M candidates.

    A bucket's shard is a LIST of bloom generations (scalable-bloom growth,
    Almeida et al. 2007): a key may be in any generation, so hits OR across
    generations.
    """
    if len(keys) == 0:
        return pd.DataFrame({"dedup_hash": [], "maybe_seen": []}).astype(
            {"dedup_hash": "int64", "maybe_seen": "bool"}
        )
    hs = keys["dedup_hash"].to_numpy()
    hit = np.zeros(len(hs), dtype=bool)
    for blob in shard["bloom"]:
        hit |= _probe_blob(hs, blob)
    return pd.DataFrame({"dedup_hash": hs, "maybe_seen": hit})


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


def _merge_shard_kernel(fresh: pd.DataFrame, shard: pd.DataFrame) -> pd.DataFrame:
    """One bucket: existing generations + this round's fresh keys ->
    new generation list, with ``updated`` flagging rows that changed."""
    gens = shard.sort_values("gen") if not shard.empty else shard
    if len(fresh) == 0:
        out = gens.copy()
        out["updated"] = False
        return out[["bucket", "gen", "n_keys", "bloom", "updated"]]
    bucket = int(fresh["bucket"].iloc[0])
    hs = fresh["dedup_hash"].to_numpy()
    rows = []
    if not gens.empty:
        for r in gens.iloc[:-1].itertuples(index=False):
            rows.append((bucket, int(r.gen), int(r.n_keys), r.bloom, False))
        last = gens.iloc[-1]
        m_bits = len(last["bloom"]) * 8
        cap = m_bits // _gen_bits_per_key(int(last["gen"]))
        if int(last["n_keys"]) + len(hs) <= cap:
            bits = np.frombuffer(last["bloom"], dtype=np.uint8).copy()
            for pos in _bit_positions(hs, m_bits):
                np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
            rows.append(
                (bucket, int(last["gen"]), int(last["n_keys"]) + len(hs),
                 bits.tobytes(), True)
            )
            return pd.DataFrame(
                rows, columns=["bucket", "gen", "n_keys", "bloom", "updated"]
            )
        # newest generation is full: keep it read-only, open a bigger one —
        # capacity grows GEN_GROWTH x AND the per-key density tightens by
        # GEN_TIGHTEN_BITS so the union fpp stays geometrically bounded
        rows.append((bucket, int(last["gen"]), int(last["n_keys"]), last["bloom"], False))
        next_gen = int(last["gen"]) + 1
        grow_bits = (cap * GEN_GROWTH * _gen_bits_per_key(next_gen) + 63) // 64 * 64
    else:
        next_gen = 0
        grow_bits = 0
    m_bits = max(_bloom_params(len(hs), _gen_bits_per_key(next_gen)), grow_bits)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    for pos in _bit_positions(hs, m_bits):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    rows.append((bucket, next_gen, len(hs), bits.tobytes(), True))
    return pd.DataFrame(rows, columns=["bucket", "gen", "n_keys", "bloom", "updated"])


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
    exactly these). Cogrouped on the bucket key, so each dirty bucket's blob
    crosses the wire once and clean buckets' blobs aren't copied at all.
    """
    fresh_keys = fresh_keyed.select("bucket", "dedup_hash")
    if shards is None:
        shards = fresh_keys.sparkSession.createDataFrame([], SHARD_SCHEMA)
    # Dirty/clean split: buckets with no fresh keys this round pass through
    # without their blobs ever crossing the Arrow boundary — late-crawl rounds
    # touch few buckets, and at 4096 buckets this is most of the state.
    # Callers that already know the dirty-bucket list (the crawl driver
    # collects it from the cached fresh set — <= num_buckets ints) pass it in,
    # turning the split into two scan filters; otherwise a broadcast
    # semi/anti join derives it without any driver action.
    if dirty_buckets is not None:
        dirty = shards.filter(F.col("bucket").isin(dirty_buckets))
        clean = shards.filter(~F.col("bucket").isin(dirty_buckets))
    else:
        fresh_buckets = fresh_keys.select("bucket").distinct()
        dirty = shards.join(F.broadcast(fresh_buckets), "bucket", "semi")
        clean = shards.join(F.broadcast(fresh_buckets), "bucket", "anti")
    clean = clean.withColumn("updated", F.lit(False)).select(
        [f.name for f in MERGED_SHARD_SCHEMA.fields]
    )
    merged_dirty = (
        fresh_keys.groupBy("bucket")
        .cogroup(dirty.groupBy("bucket"))
        .applyInPandas(
            lambda f, sh: _merge_shard_kernel(f, sh), schema=MERGED_SHARD_SCHEMA
        )
    )
    return merged_dirty.unionByName(clean)


# shard sets up to this many bytes ride an sc.broadcast; above it, the
# cogrouped co-partitioned probe takes over (the 10^10-key regime, where the
# shard table itself is ~12 GB and must never be broadcast)
BROADCAST_SHARDS_MAX_BYTES = 256 * 1024 * 1024


def broadcast_shards(shards: DataFrame):
    """Collect + broadcast the shard map once (reusable across rounds).

    Map value is the list of bloom generations for the bucket."""
    spark = shards.sparkSession
    shard_map: dict[int, list[bytes]] = {}
    for r in shards.collect():
        shard_map.setdefault(r.bucket, []).append(r.bloom)
    return spark.sparkContext.broadcast(shard_map)


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
        ``_merge_shard_kernel``, so both give identical rows (bits are an OR
        over keys, ``n_keys`` a sum; key order cannot matter)."""
        buckets = np.mod(dedup_hash, num_buckets)
        order = np.argsort(buckets, kind="stable")
        dirty, starts = np.unique(buckets[order], return_index=True)
        updated = []
        for b, hs in zip(dirty.tolist(), np.split(dedup_hash[order], starts[1:])):
            gens = self._map.get(b, {})
            shard = pd.DataFrame(
                [(b, g, n, blob) for g, (n, blob) in sorted(gens.items())],
                columns=SHARD_SCHEMA.fieldNames(),
            )
            fresh = pd.DataFrame({"bucket": np.full(len(hs), b), "dedup_hash": hs})
            out = _merge_shard_kernel(fresh, shard)
            updated.extend(
                (int(r.bucket), int(r.gen), int(r.n_keys), r.bloom)
                for r in out[out["updated"]].itertuples(index=False)
            )
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


def _broadcast_probe(cand: DataFrame, shards: DataFrame | None, bc=None) -> DataFrame:
    """Probe via broadcast shards + scalar pandas UDF.

    Bandwidth: a scalar pandas UDF ships ONLY its input columns through Arrow
    — 16 bytes/row out, 1 byte/row back; the shard bytes reach each worker
    once via sc.broadcast. No shuffle, no join-back. This is the fast path
    whenever the shard set fits in memory (i.e., any seen-set below ~10^8-10^9
    keys); beyond that ``_cogroup_probe`` keeps the same dataflow co-partitioned.
    """
    if bc is None:
        bc = broadcast_shards(shards)

    @F.pandas_udf(T.BooleanType())
    def probe(bucket: pd.Series, dedup_hash: pd.Series) -> pd.Series:
        shards_local = bc.value
        n = len(bucket)
        out = np.zeros(n, dtype=bool)
        bk = bucket.to_numpy()
        keys = dedup_hash.to_numpy()
        for b in np.unique(bk):
            blobs = shards_local.get(int(b))
            if not blobs:
                continue  # bucket never seen anything => stays False
            idxs = np.nonzero(bk == b)[0]
            hit = np.zeros(len(idxs), dtype=bool)
            for blob in blobs:
                hit |= _probe_blob(keys[idxs], blob)
            out[idxs] = hit
        return pd.Series(out)

    return cand.withColumn("maybe_seen", probe(F.col("bucket"), F.col("dedup_hash")))


def _cogroup_probe(cand: DataFrame, shards: DataFrame) -> DataFrame:
    """Probe via cogroup on the bucket key + hash-join of verdicts — the
    co-partitioned scale path (shards travel once per bucket, never broadcast)."""
    verdicts = (
        cand.select("bucket", "dedup_hash")
        .distinct()
        .groupBy("bucket")
        .cogroup(shards.groupBy("bucket"))
        .applyInPandas(
            lambda k, s: _probe_cogroup(k, s),
            schema="dedup_hash long, maybe_seen boolean",
        )
    )
    return cand.join(verdicts, "dedup_hash")


def probe_seen(
    candidates: DataFrame,
    seen: DataFrame,
    num_buckets: int = DEFAULT_BUCKETS,
    strategy: str = "auto",
    shards: DataFrame | None = None,
    shards_bc=None,
) -> DataFrame:
    """Attach the dedup key (``dedup_hash``, ``bucket``) and the bloom
    verdict ``maybe_seen`` to every candidate — the first half of
    ``filter_fresh``. ``split_fresh`` reads the result twice (once per
    verdict), so a caller that persists it evaluates the candidate chain and
    the probe once instead of once per branch."""
    cand = with_dedup_key(candidates, num_buckets)
    if strategy == "auto":
        # a count() over the full seen table: callers that know their shard
        # state (the crawl driver does) pass the strategy instead
        est_bytes = seen.count() * BITS_PER_KEY // 8
        strategy = "broadcast" if est_bytes <= BROADCAST_SHARDS_MAX_BYTES else "cogroup"
    if strategy == "broadcast" and shards_bc is not None:
        # a live broadcast is the whole shard state: nothing to build
        return _broadcast_probe(cand, None, bc=shards_bc)
    if shards is None:
        seen_keyed = with_dedup_key(seen.select("job_id", "url_hash"), num_buckets)
        shards = build_bloom_shards(seen_keyed)
    if strategy == "broadcast":
        return _broadcast_probe(cand, shards)
    return _cogroup_probe(cand, shards)


def split_fresh(probed: DataFrame, seen: DataFrame) -> DataFrame:
    """``probe_seen`` output -> the candidate rows NOT in ``seen``:
    bloom-negatives are fresh outright, bloom-positives go through the exact
    anti-join. Drops the helper key columns."""
    definitely_fresh = probed.filter(~F.col("maybe_seen"))
    needs_exact = probed.filter(F.col("maybe_seen")).join(
        seen.select("job_id", "url_hash"), ["job_id", "url_hash"], "left_anti"
    )
    result = definitely_fresh.unionByName(needs_exact)
    return result.drop("maybe_seen", "dedup_hash", "bucket")


def filter_fresh(
    candidates: DataFrame,
    seen: DataFrame,
    num_buckets: int = DEFAULT_BUCKETS,
    use_bloom: bool = True,
    strategy: str = "auto",
    shards: DataFrame | None = None,
    shards_bc=None,
) -> DataFrame:
    """Return candidate rows whose (job_id, url_hash) is NOT in ``seen``.

    ``candidates``/``seen`` must carry job_id + url_hash. Output preserves
    candidate columns (minus helper keys). ``strategy``: 'broadcast' |
    'cogroup' | 'auto' (broadcast while the shard set fits, else cogroup).
    Pass ``shards`` (from ``build_bloom_shards``) to reuse cross-round shard
    state — in production the shard table is maintained incrementally, not
    rebuilt from the full seen set every round. ``shards_bc``: a live
    ``sc.broadcast`` of the shard map (e.g. ``ShardBroadcast.bc``) so the
    broadcast strategy skips the full collect+re-broadcast per call.

    Both verdict branches re-evaluate the probe (and everything upstream of
    it); callers that can hold the probed candidates in memory call
    ``probe_seen`` + persist + ``split_fresh`` instead (the crawl driver does).
    """
    if not use_bloom:
        return candidates.join(
            seen.select("job_id", "url_hash"), ["job_id", "url_hash"], "left_anti"
        )
    probed = probe_seen(
        candidates, seen, num_buckets, strategy, shards, shards_bc
    )
    return split_fresh(probed, seen)
