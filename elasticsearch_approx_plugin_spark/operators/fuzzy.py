"""Fuzzy queries: edit-distance matching for the shared capped
expansion.

ES exposes a ``fuzzy`` query (and ``match`` with ``fuzziness``) that
expands the query term against the term dictionary by Levenshtein
distance (Lucene caps it at 2), optionally requiring an exact shared
prefix (``prefix_length``), capped by ``max_expansions``, and runs the
expanded disjunction. The reference plugin itself has no query types
(it is a facet pack); the expansion plan, its cap and its BM25 scoring
are :func:`prefix._expand_capped` / :func:`prefix._expanded_topk`.
This module keeps only what is fuzzy-specific:

- the match is ``levenshtein(term, q) <= fuzziness`` — a codegen'd JVM
  expression, no UDF — and with ``prefix_length > 0`` the query's
  first ``prefix_length`` chars are its literal anchor, which is what
  keeps a fuzzy query from being a full-dictionary scan when the
  dictionary has billions of terms (the same reason Lucene's
  FuzzyQuery walks only the automaton-intersecting dictionary range);
- expansion order is DETERMINISTIC — (distance ASC, term ASC), the
  distance riding the expansion as a per-query key — a documented
  simplification of Lucene's TopTermsBlendedFreqScoringRewrite (which
  ranks by boost ``1 − distance/length`` and blends doc frequencies);
  exact matches (distance 0) therefore always survive the cap first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .postings import InvertedIndex
from .prefix import (
    DEFAULT_MAX_EXPANSIONS,
    MAX_EDITS,
    _expand_capped,
    _expanded_topk,
    _expansion_lists,
)


def _validated(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    if not queries or any(not t for _, t in queries):
        raise ValueError("fuzzy queries must be non-empty strings")
    return [(int(qid), str(t)) for qid, t in queries]


def fuzzy_expand(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    fuzziness: int = MAX_EDITS,
    prefix_length: int = 0,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> list[tuple[int, list[str]]]:
    """Expand each (query_id, term) against the dictionary: the first
    ``max_expansions`` terms within Levenshtein distance ``fuzziness``
    (sharing the query's first ``prefix_length`` chars exactly), in
    (distance, term) order. Queries matching nothing expand to []."""
    if not 0 <= fuzziness <= MAX_EDITS:
        raise ValueError(f"fuzziness must be in [0, {MAX_EDITS}], got {fuzziness}")
    if prefix_length < 0:
        raise ValueError(f"prefix_length must be >= 0, got {prefix_length}")
    matches, keys = [], []
    for qid, qt in _validated(queries):
        dist = F.levenshtein(F.col("term"), F.lit(qt))
        cond = dist <= fuzziness
        if prefix_length:
            cond = F.col("term").startswith(qt[:prefix_length]) & cond
        matches.append((qid, cond, qt[:prefix_length]))
        keys.append({"dist": dist})
    expansion = _expand_capped(
        index.dictionary, matches, max_expansions, ("dist", "term"), keys
    )
    return _expansion_lists(expansion, matches, "dist")


def fuzzy_topk(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    k: int = 10,
    fuzziness: int = MAX_EDITS,
    prefix_length: int = 0,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    prune: bool = False,
) -> DataFrame:
    """BM25 top-k for fuzzy queries: (query_id, doc_id, score, rank).
    The expanded disjunction scores exactly like ``score_queries`` on
    the expanded term list (bool-OR semantics, each term at its own
    idf); zero-match queries yield no rows."""
    return _expanded_topk(
        index,
        fuzzy_expand(index, queries, fuzziness, prefix_length, max_expansions),
        k,
        prune,
    )
