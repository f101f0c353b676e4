"""Prefix queries, and the capped dictionary expansion every
term-expanding operator shares.

ES exposes ``prefix`` / ``match_phrase_prefix`` queries that expand a
prefix against the term dictionary (in term order, capped by
``max_expansions``, default 50 in Lucene) and run the expanded
disjunction. The reference plugin itself has no query types (it is a
facet pack), but its facets run inside such queries; this module adds
the capability Spark-first, and :func:`_expand_capped` is the one
expansion plan behind ``prefix``, ``wildcard``, ``regexp``, ``fuzzy``
and the ``term`` suggester — each of those keeps only its own pattern
translation:

- expansion is ONE dictionary scan: per-query match predicates feed a
  literal CASE array + explode (no join, no UDF), and a pushable
  OR-of-``startswith`` anchor reaches the parquet dictionary scan of a
  persisted index whenever every query has a literal prefix; the
  per-query cap is a ``row_number`` over a deterministic order (term
  order — Lucene's expansion order — unless the caller ranks by a
  per-query key), so the collect is bounded by queries × cap;
- scoring reuses ``bm25.score_queries`` on the expanded term lists
  (:func:`_expanded_topk`) — the expanded disjunction scores exactly
  like a bool-OR of term queries, so every downstream property (WAND
  pruning, tombstones, bucket pruning, rank determinism) is inherited,
  not re-implemented.

At 100 TB the dictionary is billions of terms; the cap is what keeps a
short prefix ("a") from expanding into a scan-sized disjunction —
same reason Lucene enforces it.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .bm25 import score_queries
from .postings import InvertedIndex

DEFAULT_MAX_EXPANSIONS = 50  # Lucene's max_expansions default
MAX_EDITS = 2  # Lucene's LevenshteinAutomata hard cap (fuzzy, suggester)


def _any(conds) -> Column:
    return reduce(lambda a, b: a | b, conds)


def _expand_capped(
    dictionary: DataFrame,
    queries: list[tuple[int, Column, str]],
    cap: int,
    order: tuple = ("term",),
    keys: list[dict[str, Column]] | None = None,
) -> DataFrame:
    """The capped expansion: (dictionary columns, query_id[, keys], rn)
    for the first ``cap`` dictionary terms per query, in ``order``,
    whose match predicate holds.

    ``queries`` holds (query_id, match, anchor). When EVERY query has
    a literal anchor, one OR-of-``startswith`` conjunct goes ahead of
    the match predicates: plain ``StringStartsWith``s that push into a
    persisted dictionary's parquet scan, where LIKE / RLIKE /
    levenshtein matches never do. One query without an anchor forfeits
    it and the scan is the full dictionary — Lucene's cost model for a
    leading wildcard. A term matching several queries is assigned
    through a literal CASE array + explode: still one scan, no join.
    ``keys`` are per-query columns (fuzzy's ``dist``, the suggester's
    ``score``) that ride the exploded struct so ``order`` can rank by
    them."""
    if cap < 1:
        raise ValueError(f"max_expansions must be >= 1, got {cap}")
    if all(anchor for _, _, anchor in queries):
        dictionary = dictionary.filter(
            _any([F.col("term").startswith(anchor) for _, _, anchor in queries])
        )
    cells = [F.lit(qid).cast("long") for qid, _, _ in queries]
    if keys:
        cells = [
            F.struct(c.alias("query_id"), *[v.alias(n) for n, v in kv.items()])
            for c, kv in zip(cells, keys)
        ]
    hits = F.explode(
        F.filter(
            F.array(*[F.when(m, c) for (_, m, _), c in zip(queries, cells)]),
            lambda x: x.isNotNull(),
        )
    )
    cols = dictionary.columns
    out = dictionary.filter(_any([m for _, m, _ in queries]))
    if keys:
        out = out.select(*cols, hits.alias("m")).select(*cols, "m.*")
    else:
        out = out.select(*cols, hits.alias("query_id"))
    return out.withColumn(
        "rn", F.row_number().over(Window.partitionBy("query_id").orderBy(*order))
    ).filter(F.col("rn") <= cap)


def _expansion_lists(
    expansion: DataFrame, queries: list[tuple[int, Column, str]], *keys: str
) -> list[tuple[int, list[str]]]:
    """Collect :func:`_expand_capped` into [(query_id, terms)] in the
    expansion order; queries that match nothing expand to []."""
    out: dict[int, list[str]] = {int(qid): [] for qid, _, _ in queries}
    for r in sorted(expansion.select("query_id", *keys, "term").collect()):
        out[int(r["query_id"])].append(r["term"])
    return list(out.items())


def _expanded_topk(
    index: InvertedIndex,
    expanded: list[tuple[int, list[str]]],
    k: int,
    prune: bool,
) -> DataFrame:
    """BM25 top-k of the expanded disjunctions: (query_id, doc_id,
    score, rank), exactly ``score_queries`` on the expanded term lists
    (bool-OR, each term at its own idf); zero-match queries yield no
    rows."""
    expanded = [(qid, ts) for qid, ts in expanded if ts]
    if not expanded:
        spark = index.postings.sparkSession
        return spark.createDataFrame(
            [], "query_id long, doc_id long, score double, rank long"
        )
    return score_queries(index, expanded, k, prune=prune)


def prefix_expand(
    index: InvertedIndex,
    prefixes: list[tuple[int, str]],
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> list[tuple[int, list[str]]]:
    """Expand each (query_id, prefix) against the dictionary: the first
    ``max_expansions`` matching terms in term (dictionary) order.
    Queries whose prefix matches nothing expand to []."""
    if not prefixes or any(not p for _, p in prefixes):
        raise ValueError("prefixes must be non-empty strings")
    queries = [(qid, F.col("term").startswith(p), p) for qid, p in prefixes]
    return _expansion_lists(
        _expand_capped(index.dictionary, queries, max_expansions), queries
    )


def prefix_topk(
    index: InvertedIndex,
    prefixes: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    prune: bool = False,
) -> DataFrame:
    """BM25 top-k for prefix queries: (query_id, doc_id, score, rank).
    The expanded disjunction scores exactly like ``score_queries`` on
    the expanded term list (bool-OR semantics); zero-match prefixes
    yield no rows."""
    return _expanded_topk(
        index, prefix_expand(index, prefixes, max_expansions), k, prune
    )
