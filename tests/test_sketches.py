"""HyperLogLog sketches (operators/sketches.py) — register math vs the
pure-python mirror, mergeability (the reason the sketch exists), and
estimate accuracy against exact distinct counts."""

import math

import pytest
from pyspark.sql import functions as F

from anycrawl_spark.operators.sketches import (
    hll_cardinality,
    hll_estimate,
    hll_merge,
    hll_sketch,
    py_hll,
)


def test_registers_match_python_mirror(spark):
    vals = [f"user-{i}" for i in range(500)]
    df = spark.createDataFrame([(v,) for v in vals], "val: string").withColumn(
        "g", F.lit("a")
    )
    row = hll_sketch(df, ["g"], "val", p=6).collect()[0]
    regs, _ = py_hll(vals, p=6)
    assert list(row.registers) == regs


def test_estimate_matches_python_mirror_and_is_accurate(spark):
    vals = list(range(3000))
    df = spark.createDataFrame([(v,) for v in vals], "val: long").withColumn(
        "g", F.lit("a")
    )
    out = hll_cardinality(df, ["g"], "val", p=6).collect()[0]
    _, est = py_hll(vals, p=6)
    assert out.estimate == pytest.approx(round(est, 4))
    # m=64 -> sigma ~ 1.04/8 = 13%; assert within 3 sigma of the truth
    assert abs(out.estimate - 3000) / 3000 < 0.39


def test_merge_of_shards_equals_whole(spark):
    """Per-shard sketches merged by register max must be BYTE-identical to
    the sketch of the union — the property that makes per-snapshot
    cardinality a metadata rollup instead of a rescan."""
    df = spark.createDataFrame(
        [(f"u{i}", "a", i % 3) for i in range(400)], "val: string, g: string, shard: int"
    )
    whole = hll_sketch(df, ["g"], "val", p=6).collect()[0]
    per_shard = hll_sketch(df, ["g", "shard"], "val", p=6)
    merged = hll_merge(per_shard, ["g"]).collect()[0]
    assert list(merged.registers) == list(whole.registers)


def test_merge_overlapping_sets_counts_union_once(spark):
    """Sketches of overlapping shards merge to the sketch of the set UNION
    (duplicates across shards cost nothing)."""
    a = spark.createDataFrame([(i, "j") for i in range(300)], "val: long, g: string")
    b = spark.createDataFrame([(i, "j") for i in range(150, 450)], "val: long, g: string")
    sk = hll_sketch(a, ["g"], "val").unionByName(hll_sketch(b, ["g"], "val"))
    merged = hll_merge(sk, ["g"]).select("g", F.round(hll_estimate(F.col("registers")), 4).alias("est")).collect()[0]
    union_direct = hll_sketch(a.unionByName(b), ["g"], "val")
    direct = union_direct.select(F.round(hll_estimate(F.col("registers")), 4).alias("est")).collect()[0]
    assert merged.est == direct.est
    assert abs(merged.est - 450) / 450 < 0.39


def test_small_range_linear_counting_branch(spark):
    """A handful of values lands in the linear-counting branch — estimate
    must equal m*ln(m/V) exactly (V = zero registers)."""
    vals = ["x1", "x2", "x3"]
    df = spark.createDataFrame([(v, "g") for v in vals], "val: string, g: string")
    out = hll_cardinality(df, ["g"], "val", p=6).collect()[0]
    v = out.n_zero_registers
    assert out.estimate == pytest.approx(round(64.0 * math.log(64.0 / v), 4))
    assert 61 <= v <= 64 - 1  # 3 distinct hashes -> at most 3 registers hit


def test_bad_precision_raises(spark):
    df = spark.createDataFrame([("a", "g")], "val: string, g: string")
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(df, ["g"], "val", p=2).collect()


def test_all_zero_low_bits_agree_with_python_mirror(spark, monkeypatch):
    """A hash whose 54 bits below the index are all zero gives the largest
    register (55 at p=6). Both paths must take it into the exact harmonic
    sum: the hash is swapped for the value itself on both sides (the
    module's md5 for the mirror, its 60-bit hash column for Spark)."""
    from types import SimpleNamespace

    from anycrawl_spark.operators import sketches

    class _Digest:
        def __init__(self, data: bytes):
            self._h = int(data.decode())

        def hexdigest(self) -> str:
            return f"{self._h:015x}" + "0" * 17

    monkeypatch.setattr(sketches, "hashlib", SimpleNamespace(md5=_Digest))
    monkeypatch.setattr(sketches, "_hash60", lambda col: col.cast("long"))
    w_bits = sketches.HASH_BITS - 6
    # w == 0 on indexes 0..7 (beside an ordinary hash), ordinary hashes
    # on the other indexes
    vals = [i << w_bits for i in range(8)] + [(i << w_bits) | (i + 1) for i in range(64)]
    regs, est = py_hll(vals, p=6)
    assert regs[:8] == [w_bits + 1] * 8
    assert regs[8:] == [w_bits + 1 - (i + 1).bit_length() for i in range(8, 64)]
    df = spark.createDataFrame([(v, "a") for v in vals], "val: long, g: string")
    row = hll_sketch(df, ["g"], "val", p=6).collect()[0]
    assert list(row.registers) == regs
    out = hll_cardinality(df, ["g"], "val", p=6).collect()[0]
    assert out.estimate == pytest.approx(round(est, 4))
