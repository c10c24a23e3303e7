"""Positional phrase search (retrieval.phrase_search) — hand cases
incl. overlapping and repeated-term phrases, a python sliding-window
cross-check on random corpora, and input validation."""

import random

import pytest

from anycrawl_spark.operators.retrieval import phrase_search, positional_postings


def _docs(spark, d):
    return spark.createDataFrame(
        [(k, v) for k, v in d.items()], "doc_id: long, text: string"
    )


def test_hand_cases(spark):
    d = _docs(spark, {
        1: "a b c a b c",        # two occurrences of "a b c"
        2: "b c a",              # none (wraps don't count)
        3: "A B C",              # case-folded match
        4: "a b",                # too short
    })
    out = {r.doc_id: (r.n_occurrences, r.first_pos)
           for r in phrase_search(d, ["a", "b", "c"]).collect()}
    assert out == {1: (2, 1), 3: (1, 1)}


def test_repeated_and_overlapping_terms(spark):
    d = _docs(spark, {1: "t t t t", 2: "t x t t"})
    out = {r.doc_id: (r.n_occurrences, r.first_pos)
           for r in phrase_search(d, ["t", "t"]).collect()}
    assert out == {1: (3, 1), 2: (1, 3)}  # overlapping anchors all count


def test_matches_python_sliding_window(spark):
    rng = random.Random(20260821)
    vocab = ["x", "y", "z", "w"]
    corpus = {
        i: " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 40)))
        for i in range(80)
    }
    phrase = ["x", "y", "x"]
    want = {}
    for did, text in corpus.items():
        tk = text.split()
        anchors = [a + 1 for a in range(len(tk) - 2)
                   if tk[a:a + 3] == phrase]
        if anchors:
            want[did] = (len(anchors), anchors[0])
    got = {r.doc_id: (r.n_occurrences, r.first_pos)
           for r in phrase_search(_docs(spark, corpus), phrase).collect()}
    assert got == want
    assert want  # the random corpus must actually exercise matches


def test_postings_pruned_to_terms(spark):
    d = _docs(spark, {1: "a b c d e"})
    rows = positional_postings(d, terms=["b", "d"]).collect()
    assert {(r.term, r.pos) for r in rows} == {("b", 2), ("d", 4)}


def test_postings_skip_empty_docs(spark):
    """Empty and whitespace-only docs have no tokens, so no postings — with
    or without a term list (no (NULL, 1) posting)."""
    d = _docs(spark, {1: "", 2: "   ", 3: "a b"})
    rows = positional_postings(d).collect()
    assert sorted((r.doc_id, r.term, r.pos) for r in rows) == [(3, "a", 1), (3, "b", 2)]
    assert positional_postings(d, terms=["a"]).filter("doc_id != 3").count() == 0


def test_empty_phrase_raises(spark):
    with pytest.raises(ValueError, match="non-empty"):
        phrase_search(_docs(spark, {1: "a"}), [])
