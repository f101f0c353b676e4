"""Wildcard queries: pattern translation for the shared capped
expansion.

ES's ``wildcard`` query expands a ``*`` (any sequence) / ``?`` (any
char) pattern against the term dictionary and runs the expanded
disjunction (Lucene WildcardQuery — an automaton intersection over the
term dictionary). The reference is a facet pack with no query types of
its own; the expansion plan, its cap and its BM25 scoring are
:func:`prefix._expand_capped` / :func:`prefix._expanded_topk`. This
module keeps only what is wildcard-specific:

- the pattern translates to a SQL ``LIKE`` (``*``→``%``, ``?``→``_``,
  pre-existing ``\\ % _`` backslash-escaped) — a codegen'd JVM
  expression;
- the chars before the first wildcard are the query's literal anchor;
  a LEADING wildcard has none, so its batch scans the full dictionary,
  which is exactly why ES documentation warns against leading
  wildcards (we inherit the same cost model, not a worse one).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .postings import InvertedIndex
from .prefix import (
    DEFAULT_MAX_EXPANSIONS,
    _expand_capped,
    _expanded_topk,
    _expansion_lists,
)


def to_like(pattern: str) -> str:
    """ES wildcard pattern → SQL LIKE pattern (backslash escape)."""
    out = []
    for ch in pattern:
        if ch in ("\\", "%", "_"):
            out.append("\\" + ch)
        elif ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        else:
            out.append(ch)
    return "".join(out)


def literal_prefix(pattern: str) -> str:
    """Chars before the first wildcard — the pushable scan anchor."""
    for i, ch in enumerate(pattern):
        if ch in ("*", "?"):
            return pattern[:i]
    return pattern


def _validated(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    if not queries or any(not p for _, p in queries):
        raise ValueError("wildcard patterns must be non-empty strings")
    return [(int(qid), str(p)) for qid, p in queries]


def wildcard_expand(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> list[tuple[int, list[str]]]:
    """Expand each (query_id, pattern): the first ``max_expansions``
    matching dictionary terms in term order. No-match queries → []."""
    queries = [
        (qid, F.col("term").like(to_like(p)), literal_prefix(p))
        for qid, p in _validated(queries)
    ]
    return _expansion_lists(
        _expand_capped(index.dictionary, queries, max_expansions), queries
    )


def wildcard_topk(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    prune: bool = False,
) -> DataFrame:
    """BM25 top-k for wildcard queries: (query_id, doc_id, score, rank).
    Scores exactly like ``score_queries`` on the expanded term list
    (bool-OR); no-match patterns yield no rows."""
    return _expanded_topk(
        index, wildcard_expand(index, queries, max_expansions), k, prune
    )
