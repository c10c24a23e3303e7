"""DSIR importance weighting (operators/dsir.py) — python-mirror weight
equality, the selection property the method exists for (target-like docs
outrank the rest), smoothing, and integer-exact determinism."""

import hashlib
import math

from pyspark.sql import functions as F

from anycrawl_spark.operators.dsir import (
    dsir_log_ratios,
    dsir_select,
    dsir_weights,
    hashed_feature_counts,
)

B = 256  # small bucket space keeps the mirror cheap


def _bucket(bg: str) -> int:
    return int(hashlib.md5(bg.encode()).hexdigest()[:15], 16) % B


def _bigrams(text: str):
    t = [x for x in text.lower().strip().split() if x]
    return [f"{a} {b}" for a, b in zip(t, t[1:])]


def _round_half_away(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def _py_weights(raw: dict, target_ids: set):
    t_counts, r_counts = {}, {}
    for did, text in raw.items():
        for bg in _bigrams(text):
            bkt = _bucket(bg)
            r_counts[bkt] = r_counts.get(bkt, 0) + 1
            if did in target_ids:
                t_counts[bkt] = t_counts.get(bkt, 0) + 1
    T, R = sum(t_counts.values()), sum(r_counts.values())
    logr = {
        bkt: _round_half_away(
            (math.log((t_counts.get(bkt, 0) + 1) / (T + B))
             - math.log((r_counts.get(bkt, 0) + 1) / (R + B))) * 1_000_000
        )
        for bkt in set(t_counts) | set(r_counts)
    }
    out = {}
    for did, text in raw.items():
        bgs = [_bucket(bg) for bg in _bigrams(text)]
        if bgs:
            out[did] = (len(bgs), sum(logr[b] for b in bgs))
    return out


CORPUS = {
    1: "the quick brown fox jumps over the lazy dog",
    2: "the quick brown fox sat on the brown mat",
    3: "stock market prices fell sharply on tuesday trading",
    4: "market prices rose in late trading on wednesday",
    5: "the quick dog jumps over the brown fox",
    6: "short",
}
TARGET_IDS = {1, 2}


def _df(spark):
    return spark.createDataFrame(
        [(k, v) for k, v in CORPUS.items()], "doc_id: long, text: string"
    )


def _pipeline(spark):
    d = _df(spark)
    target = d.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    ratios = dsir_log_ratios(
        hashed_feature_counts(target, B), hashed_feature_counts(d, B), B
    )
    return dsir_weights(d, ratios, B)


def test_weights_match_python_mirror(spark):
    got = {r.doc_id: (r.n_features, r.weight_micro) for r in _pipeline(spark).collect()}
    assert got == _py_weights(CORPUS, TARGET_IDS)


def test_target_like_docs_outrank_off_distribution(spark):
    """Docs sharing the target's bigrams (1, 2, 5) must all outweigh the
    finance docs (3, 4); selection keeps them first."""
    top = dsir_select(_pipeline(spark), 3).collect()
    assert {r.doc_id for r in top} == {1, 2, 5}
    w = {r.doc_id: r.weight_micro for r in _pipeline(spark).collect()}
    assert min(w[1], w[2], w[5]) > max(w[3], w[4])


def test_featureless_docs_drop_out(spark):
    """A 1-token doc has no bigrams — no weight row (callers decide the
    default for unscored docs)."""
    assert 6 not in {r.doc_id for r in _pipeline(spark).collect()}


def test_smoothing_keeps_unseen_buckets_finite(spark):
    """Target-only vocabulary (bucket with r_n>0, t_n=0 and vice versa)
    must yield finite micro-log ratios everywhere."""
    d = _df(spark)
    ratios = dsir_log_ratios(
        hashed_feature_counts(d.filter(F.col("doc_id") == 3), B),
        hashed_feature_counts(d.filter(F.col("doc_id") != 3), B),
        B,
    ).collect()
    assert all(r.logr_micro is not None for r in ratios)
    assert all(abs(r.logr_micro) < 20_000_000 for r in ratios)


def test_bucket_absent_from_both_fits_gets_smoothed_ratio(spark):
    """A doc scored against stored ratios may hash into a bucket neither
    fit saw: it weighs round(1e6 * log((R+B)/(T+B))) per feature, the
    add-one smoothed ratio of an unseen bucket, and is not dropped."""
    d = _df(spark)
    target = d.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    ratios = dsir_log_ratios(
        hashed_feature_counts(target, B), hashed_feature_counts(d, B), B
    )
    assert ratios.count() == B
    seen = {_bucket(bg) for text in CORPUS.values() for bg in _bigrams(text)}
    novel = next(
        f"zz{i} yy{i}" for i in range(10_000) if _bucket(f"zz{i} yy{i}") not in seen
    )
    T = sum(len(_bigrams(CORPUS[i])) for i in TARGET_IDS)
    R = sum(len(_bigrams(text)) for text in CORPUS.values())
    new_doc = spark.createDataFrame([(99, novel)], "doc_id: long, text: string")
    row = dsir_weights(new_doc, ratios, B).collect()
    assert [(r.doc_id, r.n_features, r.weight_micro) for r in row] == [
        (99, 1, _round_half_away((math.log(1 / (T + B)) - math.log(1 / (R + B))) * 1_000_000))
    ]


def test_weights_invariant_under_repartition(spark):
    """Integer dot products: identical output at any parallelism."""
    base = {r.doc_id: r.weight_micro for r in _pipeline(spark).collect()}
    d = _df(spark).repartition(7)
    target = d.filter(F.col("doc_id").isin(list(TARGET_IDS)))
    ratios = dsir_log_ratios(
        hashed_feature_counts(target, B), hashed_feature_counts(d, B), B
    )
    got = {r.doc_id: r.weight_micro for r in dsir_weights(d, ratios, B).collect()}
    assert got == base
