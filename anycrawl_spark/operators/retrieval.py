"""Keyword retrieval over the crawled corpus: inverted index + BM25 top-k.

The reference exposes search only as an outbound SERP proxy
(`packages/search-sdk`, rebuilt in `operators/serp.py`) — it never ranks
its OWN crawled documents. A corpus this engine produces wants first-party
retrieval next to the ANN path (`operators/similarity.py`): build an
inverted index from the `documents` table and rank with BM25. This is the
lexical half of the standard hybrid (BM25 + embedding) retrieval stack
used to mine and audit training corpora.

**Exact-rational scoring.** The driver's correctness gate compares values
by exact string equality, and float BM25 cannot hash-match across engines
(`ln` is only 1-ulp-accurate and multi-term sums are reduction-order
dependent). So the scoring keeps BM25's algebraic shape but stays in
int64 end-to-end, with the standard parameters as exact rationals
(k1 = 6/5, b = 3/4):

- TF saturation — with T = total corpus tokens, N = docs, dl = doc
  length, avgdl = T/N, the BM25 term ``tf*(k1+1) / (tf + k1*(1 - b +
  b*dl/avgdl))`` clears denominators exactly to::

      sat = 44*tf*T / (20*tf*T + 6*T + 18*dl*N)

  computed as ``(44*tf*T*S1) div (20*tf*T + 6*T + 18*dl*N)`` — one
  integer division per (doc, term), identical in every engine.
- IDF — the pre-log Robertson odds ``(N - df + 0.5)/(df + 0.5)``, scaled:
  ``idf = ((2*(N - df) + 1) * S2) div (2*df + 1)``. Dropping the ``ln``
  is a DOCUMENTED variant: per-term ranking is identical (ln is
  monotone); multi-term mixing weights raw odds instead of log-odds,
  which favors rarer terms slightly more than classic BM25. The float/
  log form is a one-line swap where bit-reproducibility doesn't matter.
- Score — ``sum_t (idf_t * sat_{t,doc}) div S1`` over matched query
  terms: an int64 sum, associative, shuffle-order independent.

Overflow headroom (documented, like `linkrank`): with S1 = 10^6,
S2 = 10^4, the per-term product is ≤ 2.2·S1·S2·(2N+1)/(2·df+1); df ≥ 1
keeps it under 2^63 to N ~ 10^12 docs. ``44*tf*T`` binds first: T ≤ 10^14
corpus tokens with tf ≤ 10^3 — beyond that, pre-divide T out (T/N is the
only ratio that matters) or move to log-space floats.

**Scale shape.** Postings are built by ONE explode→groupBy(term, doc_id)
— at query time the explode is filtered to the query's terms FIRST, so
only matching tokens survive into the shuffle (the filter sits in the
scan stage under whole-stage codegen). df/dl/corpus stats are two-phase
aggregates; N and T are two driver scalars (one O(1) collect, same
pattern as the mixture-sampling solver). Top-k is orderBy+limit =
TakeOrderedAndProject — per-partition heaps, only k rows cross to the
driver. For a STANDING index (many queries, one corpus), persist
``inverted_index``'s postings bucketed by term; the per-query plan is
then a semi-join on the query terms instead of a rescan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anycrawl_spark.functions.text import tokens

#: TF-saturation fixed-point scale (S1) and IDF scale (S2).
SAT_SCALE = 10**6
IDF_SCALE = 10**4


def inverted_index(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(term, doc_id, tf) postings — lowercase whitespace terms via the
    corpus-wide shared tokenizer (`functions.text.tokens`)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k docs for ``query_terms`` under the exact-integer BM25 variant
    (module docstring). Ties break on doc_id ascending so the result set
    is fully deterministic. Returns (doc_id, bm25_scaled, matched_terms)."""
    terms = sorted({t.lower() for t in query_terms})
    toks = docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.lower(F.col(text_col))).alias("toks")
    )
    dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl"))
    # N and T: two O(1) driver scalars (same pattern as sampling's solver).
    stats = dl.agg(
        F.count("*").alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("t")
    ).collect()[0]
    n_docs, t_tokens = int(stats["n"]), int(stats["t"])

    # Postings restricted to the query terms BEFORE the shuffle: the isin
    # filter runs in the scan stage, so non-matching tokens never leave it.
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(terms))
        .groupBy("term", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))

    scored = (
        tf.join(F.broadcast(df_), "term")
        .join(dl, "doc_id")
        .withColumn(
            "idf",
            F.expr(f"((2 * ({n_docs} - df) + 1) * {IDF_SCALE}) div (2 * df + 1)"),
        )
        .withColumn(
            "sat",
            F.expr(
                f"(44 * tf * {t_tokens} * {SAT_SCALE}) div "
                f"(20 * tf * {t_tokens} + 6 * {t_tokens} + 18 * dl * {n_docs})"
            ),
        )
        .select("doc_id", F.expr(f"(idf * sat) div {SAT_SCALE}").alias("tscore"))
        .groupBy("doc_id")
        .agg(
            F.sum("tscore").cast("long").alias("bm25_scaled"),
            F.count("*").cast("long").alias("matched_terms"),
        )
    )
    return scored.orderBy(F.desc("bm25_scaled"), F.asc("doc_id")).limit(k)


def bm25_topk_sequential(
    rows: list[tuple[int, str]], query_terms: list[str], k: int = 10
) -> list[tuple[int, int, int]]:
    """Single-process reference (plain dicts, same integer formulas) — the
    differential-test oracle for `bm25_topk`."""
    terms = sorted({t.lower() for t in query_terms})
    toks = {i: [w for w in txt.lower().split() if w] for i, txt in rows}
    n = len(toks)
    t_total = sum(len(v) for v in toks.values())
    tf: dict[tuple[str, int], int] = {}
    for i, ws in toks.items():
        for w in ws:
            if w in terms:
                tf[(w, i)] = tf.get((w, i), 0) + 1
    df: dict[str, int] = {}
    for (w, _i) in tf:
        df[w] = df.get(w, 0) + 1
    scores: dict[int, list[int]] = {}
    for (w, i), f_ in tf.items():
        idf = ((2 * (n - df[w]) + 1) * IDF_SCALE) // (2 * df[w] + 1)
        dl = len(toks[i])
        sat = (44 * f_ * t_total * SAT_SCALE) // (
            20 * f_ * t_total + 6 * t_total + 18 * dl * n
        )
        scores.setdefault(i, []).append((idf * sat) // SAT_SCALE)
    out = [(i, sum(v), len(v)) for i, v in scores.items()]
    out.sort(key=lambda r: (-r[1], r[0]))
    return out[:k]


def positional_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    terms: list[str] | None = None,
) -> DataFrame:
    """(term, doc_id, pos) positional postings — the phrase-query layer of
    the inverted index. ``terms`` (usually the query's tokens) prunes the
    explode INSIDE the scan stage: only postings for queried terms ever
    become rows, so a k-term phrase query explodes O(matching tokens),
    not O(corpus tokens). Positions are 1-based token offsets."""
    toks = tokens(F.lower(F.col(text_col)))
    # the position sequence is never empty (sequence(1, 0) would count
    # down), so a doc with no tokens zips to one (NULL, 1) entry: the
    # predicate drops NULL terms (``isin`` already does)
    entries = F.filter(
        F.zip_with(
            toks,
            F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1))),
            lambda t, i: F.struct(t.alias("term"), i.alias("pos")),
        ),
        (lambda e: e["term"].isin(terms)) if terms is not None
        else (lambda e: e["term"].isNotNull()),
    )
    return docs.select(F.col(id_col), F.explode(entries).alias("e")).select(
        id_col, F.col("e.term").alias("term"), F.col("e.pos").alias("pos")
    )


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact phrase matching from positional postings: doc contains the
    phrase at anchor a iff token(a+i) == phrase[i] for every i.

    Each posting of phrase-term t at position p proposes anchors
    {p - i : phrase[i] == t}; an anchor is a match when all
    ``len(phrase)`` indices voted for it — ONE groupBy((doc, anchor))
    counting distinct indices, fixed-width rows, after the postings
    explode already pruned to phrase terms in the scan stage. This is
    the standard positional-index phrase plan (Manning et al., IR book,
    public); no text ever shuffles.

    Returns (doc_id, n_occurrences, first_pos) for matching docs.
    """
    if not phrase:
        raise ValueError("phrase must be non-empty")
    phrase = [t.lower() for t in phrase]
    n = len(phrase)
    post = positional_postings(docs, id_col, text_col, terms=sorted(set(phrase)))
    # term -> the phrase indices it occupies (handles repeated terms)
    idx_map = F.array(*[
        F.struct(F.lit(t).alias("term"), F.lit(i).alias("i"))
        for i, t in enumerate(phrase)
    ])
    votes = (
        post.withColumn(
            "_i",
            F.explode(
                F.transform(
                    F.filter(idx_map, lambda e: e["term"] == F.col("term")),
                    lambda e: e["i"],
                )
            ),
        )
        .select(id_col, (F.col("pos") - F.col("_i")).alias("anchor"), "_i")
        .filter(F.col("anchor") >= 1)
    )
    return (
        votes.groupBy(id_col, "anchor")
        .agg(F.count_distinct("_i").alias("_k"))
        .filter(F.col("_k") == n)
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.min("anchor").cast("long").alias("first_pos"),
        )
    )
