"""Mergeable cardinality sketches (HyperLogLog) for crawl/corpus accounting.

At 10^10 URLs, "how many DISTINCT hosts/users/URLs did job J touch this
week" is a constant question (frontier sizing, politeness budgeting,
recrawl planning) and an exact ``count(distinct)`` is a full shuffle of
the key universe every time it is asked. The standard answer (public:
Flajolet et al. 2007, "HyperLogLog: the analysis of a near-optimal
cardinality estimation algorithm") is a fixed-size register sketch that
is MERGEABLE: per-snapshot / per-partition sketches combine by
element-wise max, so cardinality over any time window is a metadata-size
rollup instead of a rescan. Spark's own ``approx_count_distinct`` is HLL
too but its sketch is opaque (no column-level merge across separately
materialized tables); this operator keeps the registers as a plain
``array<int>`` column so sketches can be stored per (job, day) in the
progress tables and merged later with plain DataFrame code.

Determinism/oracle: the hash is the first 15 hex digits of md5 (60 bits
— the same convention as ``dedup.simhash_md5``), so DuckDB computes
IDENTICAL registers (q_hll_hosts). The estimator's harmonic sum is kept
EXACT in integer space: sum(2^-M_j) = S / 2^(w+1) with S = sum(2^(w+1-M_j))
a bigint (w = 60-p hash bits below the index, so every term, including
M_j = w+1 for an all-zero w, is a whole number and S < 2^62) — no
float-accumulation-order divergence between engines; the
only float ops are one division and (in the small-range branch) one log,
identical IEEE semantics on both sides.

Scale shape: ONE two-phase groupBy((group, idx)) max + ONE O(groups * m)
rollup — fixed-width rows only, pure JVM column math, no python stage.
Register arrays are m=2^p ints (p=6 -> 64 registers, ~13% relative
error; p=12 -> 4096 registers, ~1.6%).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

HASH_BITS = 60  # 15 md5 hex digits, the repo's DuckDB-checkable convention


def _alpha(m: int) -> float:
    # Flajolet et al. 2007, Fig. 3
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def _hash60(col):
    """60-bit integer from md5, matching the DuckDB digit arithmetic."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hll_register_rows(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 6
) -> DataFrame:
    """Sparse (group..., idx, rho) register rows: idx = top ``p`` hash bits,
    rho = leading-zero count of the remaining ``60-p`` bits + 1, maxed per
    (group, idx). This is the only data-scale aggregation — everything
    after it is O(groups)."""
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    w_bits = HASH_BITS - p
    h = _hash60(F.col(value_col).cast("string"))
    idx = F.shiftright(h, w_bits)
    w = h.bitwiseAND(F.lit((1 << w_bits) - 1))
    rho = F.when(w == 0, F.lit(w_bits + 1)).otherwise(
        F.lit(w_bits + 1) - F.length(F.bin(w))
    )
    return (
        df.select(*group_cols, idx.alias("idx"), rho.alias("rho"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_sketch(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 6
) -> DataFrame:
    """Dense per-group sketch: (group..., registers array<int> of length 2^p).
    Store it; merge later with ``hll_merge``; read it with ``hll_estimate``."""
    m = 1 << p
    sparse = hll_register_rows(df, group_cols, value_col, p)
    dense = (
        sparse.groupBy(*group_cols)
        .agg(
            F.map_from_entries(F.collect_list(F.struct("idx", "rho"))).alias("_mp")
        )
        .select(
            *group_cols,
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda i: F.coalesce(F.element_at("_mp", i.cast("long")), F.lit(0)).cast(
                    "int"
                ),
            ).alias("registers"),
        )
    )
    return dense


def hll_merge(sketches: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge sketches by element-wise register max — the whole point of
    storing them: cardinality over any union of shards/snapshots without
    touching data rows. O(groups * m), pure JVM."""
    first = F.slice(F.collect_list("registers"), 1, 1)[0]
    return (
        sketches.groupBy(*group_cols)
        .agg(
            F.aggregate(
                F.collect_list("registers"),
                F.transform(first, lambda r: F.lit(0)),
                lambda acc, regs: F.zip_with(acc, regs, lambda a, b: F.greatest(a, b)),
            ).alias("registers")
        )
    )


def hll_estimate(registers, p: int = 6):
    """Estimate column from a register array column. Harmonic mean kept in
    exact integer space (S = sum 2^(55-M_j), a bigint), then ONE double
    division; linear-counting small-range correction per the paper."""
    m = 1 << p
    # exact: sum(2^-M_j) == S / 2^scale, scale one bit above the largest
    # register (w_bits + 1) so each term 2^(scale - r) is a whole number;
    # powers of two are exact in double, so pow+cast is an exact bigint
    # term (shiftleft's numBits arg is python-int-only, not a column)
    scale = HASH_BITS - p + 1
    s_int = F.aggregate(
        registers,
        F.lit(0).cast("long"),
        lambda acc, r: acc + F.pow(F.lit(2.0), F.lit(scale) - r).cast("long"),
    )
    raw = F.lit(float(_alpha(m) * m * m * (1 << scale))) / s_int.cast("double")
    v = F.size(F.filter(registers, lambda r: r == 0))
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / v.cast("double"))
    return F.when((v > 0) & (raw <= 2.5 * m), linear).otherwise(raw)


def hll_cardinality(
    df: DataFrame, group_cols: list[str], value_col: str, p: int = 6
) -> DataFrame:
    """Convenience: (group..., n_zero_registers, register_sum, estimate)."""
    sk = hll_sketch(df, group_cols, value_col, p)
    regs = F.col("registers")
    return sk.select(
        *group_cols,
        F.size(F.filter(regs, lambda r: r == 0)).cast("long").alias("n_zero_registers"),
        F.aggregate(regs, F.lit(0), lambda a, r: a + r).cast("long").alias("register_sum"),
        F.round(hll_estimate(regs, p), 4).alias("estimate"),
    )


# ---------------------------------------------------------------------------
# Sequential mirror (tests cross-check the distributed path against this)


def py_hll(values, p: int = 6):
    """Pure-python HLL over an iterable — registers + estimate, same hash."""
    m = 1 << p
    w_bits = HASH_BITS - p
    regs = [0] * m
    for val in values:
        h = int(hashlib.md5(str(val).encode()).hexdigest()[:15], 16)
        idx = h >> w_bits
        w = h & ((1 << w_bits) - 1)
        rho = (w_bits + 1) if w == 0 else (w_bits + 1 - w.bit_length())
        regs[idx] = max(regs[idx], rho)
    scale = w_bits + 1
    s_int = sum(1 << (scale - r) for r in regs)
    raw = (_alpha(m) * m * m * (1 << scale)) / s_int
    v = regs.count(0)
    est = m * math.log(m / v) if v > 0 and raw <= 2.5 * m else raw
    return regs, est
