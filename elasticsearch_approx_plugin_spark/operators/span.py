"""Span (proximity) queries: ``span_near`` and ``span_first``.

The reference plugin has no span support (ES 0.90 exposes Lucene's
SpanQuery family — SpanNearQuery / SpanFirstQuery — through the query
DSL, outside the plugin's facet SPIs); this module adds the proximity
capability the same way :mod:`phrase` adds adjacency: candidates come
from the NON-positional index (docs containing all clause terms — a
postings intersection), and the positional predicate is verified
row-locally on the candidate docs' token arrays. No position streams
are stored, encoded, or merged.

Semantics (Lucene, for single-term clauses — the portable core; ES
0.90's own span clauses are span_term compositions):

- ``span_near(terms, slop, in_order)``: a document matches when there
  is a choice of one occurrence position per clause term such that the
  covering interval wastes at most ``slop`` positions —
  ``max(p) - min(p) + 1 - m <= slop`` — with strictly increasing
  positions when ``in_order``.  Equivalently (and this is how the
  row-local verify runs): some token window of length ``m + slop``
  contains every clause term with its required multiplicity
  (unordered) or as a subsequence (ordered).  The equivalence is
  exact: any valid match lies inside the window starting at its
  minimum position, and any window witness has span <= m + slop.
- ``span_first(term, end)``: the term occurs among the first ``end``
  tokens (Lucene SpanFirstQuery: span.end() <= end, and a term span at
  0-based position p has end p+1).

100 TB design notes (same shape as :mod:`phrase`):

- candidate generation reads only the clause terms' postings (term IN
  pushdown + bucket pruning on persisted indexes) and is the ONLY
  distributed work besides the final top-k window;
- the verify is a pure Catalyst higher-order expression — nested
  ``exists``/``aggregate`` lambdas over the token array, no Python, no
  shuffle; per-row cost O(n_tokens × (m + slop)) on candidate docs
  only;
- candidates, the verify join and the row-local BM25 fold are
  :mod:`phrase`'s (``_candidates``, ``_verify``, ``_bm25_fold``), so
  the ranked variant adds no postings pass and no scoring join.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.small_df import small_df
from .phrase import _bm25_fold, _candidates, _qidf, _validated, _verify
from .postings import InvertedIndex

_NEAR_SCHEMA = (
    "query_id long, qterms array<string>, "
    "qcounts array<struct<term: string, cnt: int>>, length int"
)


def _window_starts(toks: Column) -> Column:
    return F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)))


def _ordered_hit(toks: Column, qterms: Column, length: Column) -> Column:
    """True iff some token window of ``length`` contains ``qterms`` as
    a subsequence (greedy pointer fold — greedy is exact for
    subsequence existence)."""
    m = F.size(qterms)

    def window_ok(i: Column) -> Column:
        s = F.slice(toks, i, length)
        matched = F.aggregate(
            s,
            F.lit(0),
            lambda acc, x: F.when(
                (acc < m) & (x == F.element_at(qterms, acc + 1)), acc + 1
            ).otherwise(acc),
        )
        return matched == m

    return F.exists(_window_starts(toks), window_ok)


def _unordered_hit(toks: Column, qcounts: Column, length: Column) -> Column:
    """True iff some token window of ``length`` contains every clause
    term with its required multiplicity; ``qcounts`` is
    ``array<struct<term: string, cnt: int>>``."""

    def window_ok(i: Column) -> Column:
        s = F.slice(toks, i, length)
        return F.forall(
            qcounts,
            lambda e: F.size(F.filter(s, lambda x: x == e["term"])) >= e["cnt"],
        )

    return F.exists(_window_starts(toks), window_ok)


def _near_rows(queries: list[tuple[int, list[str]]], slop: int) -> list[tuple]:
    """Per-query ``_NEAR_SCHEMA`` payload rows: the clause terms, their
    multiplicities and the ``m + slop`` window length."""
    return [
        (qid, terms, sorted(Counter(terms).items()), len(terms) + slop)
        for qid, terms in queries
    ]


def _near_hit(in_order: bool) -> Column:
    """The span_near predicate over a verified row's ``_toks`` and its
    ``_NEAR_SCHEMA`` payload columns."""
    toks, length = F.col("_toks"), F.col("length")
    if in_order:
        return _ordered_hit(toks, F.col("qterms"), length)
    return _unordered_hit(toks, F.col("qcounts"), length)


def span_near_match(
    index: InvertedIndex,
    corpus: DataFrame,
    queries: list[tuple[int, list[str]]],
    slop: int = 0,
    in_order: bool = False,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, doc_id) for every live document matching the
    span_near predicate; ``queries`` = [(query_id, clause terms)]."""
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    queries = _validated(queries)
    spark = index.postings.sparkSession
    cand = _candidates(index, queries)
    payload = small_df(spark, _near_rows(queries, slop), _NEAR_SCHEMA)
    return (
        _verify(cand, corpus, payload, tokens_col, id_col)
        .filter(_near_hit(in_order))
        .select("query_id", "doc_id")
    )


def span_first_match(
    index: InvertedIndex,
    corpus: DataFrame,
    queries: list[tuple[int, str]],
    end: int,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """(query_id, doc_id) for live documents whose first ``end`` tokens
    contain the query term (Lucene SpanFirstQuery over a span_term)."""
    if end < 1:
        raise ValueError(f"end must be >= 1, got {end}")
    qlist = [(int(qid), [str(t)]) for qid, t in queries]
    spark = index.postings.sparkSession
    cand = _candidates(index, qlist)
    payload = small_df(spark, 
        [(qid, p[0]) for qid, p in qlist], "query_id long, qterm string"
    )
    hit = F.array_position(
        F.slice(F.col("_toks"), 1, end), F.col("qterm")
    ) > 0
    return (
        _verify(cand, corpus, payload, tokens_col, id_col)
        .filter(hit)
        .select("query_id", "doc_id")
    )


def span_near_topk(
    index: InvertedIndex,
    corpus: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    slop: int = 0,
    in_order: bool = False,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Span-filtered BM25 top-k: (query_id, doc_id, score, rank) —
    exactly ``score_queries(index, clause terms)`` re-ranked over the
    span_near match set, same contract as :func:`phrase.phrase_topk`
    (identical idf/tfnorm arithmetic, 6-dp rounding, ties by doc_id),
    computed row-locally on the candidate docs' token arrays."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if slop < 0:
        raise ValueError(f"slop must be >= 0, got {slop}")
    queries = _validated(queries)
    spark = index.postings.sparkSession
    cand = _candidates(index, queries)  # warms index.term_cache for _qidf
    payload = small_df(spark, 
        [row + (_qidf(index, row[1]),) for row in _near_rows(queries, slop)],
        _NEAR_SCHEMA + ", qidf array<struct<term: string, idf: double>>",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        _verify(cand, corpus, payload, tokens_col, id_col)
        .filter(_near_hit(in_order))
        .select("query_id", "doc_id", _bm25_fold(index, F.col("_toks")).alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
