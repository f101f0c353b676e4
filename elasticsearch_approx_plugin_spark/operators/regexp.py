"""Regexp queries: pattern translation for the shared capped
expansion.

ES's ``regexp`` query matches whole terms against a regular expression
(Lucene RegexpQuery — an automaton intersection over the term
dictionary; the pattern is implicitly anchored at both ends). The
reference is a facet pack with no query types of its own; the
expansion plan, its cap and its BM25 scoring are
:func:`prefix._expand_capped` / :func:`prefix._expanded_topk`. This
module keeps only what is regexp-specific:

- the pattern runs as a codegen'd JVM ``RLIKE`` against the term
  dictionary, explicitly anchored ``^(?:pat)$`` to reproduce Lucene's
  whole-term semantics;
- only the portable core of the Lucene regexp syntax is accepted
  (``. ? + * | ( ) [ ] { }`` and backslash escapes — the operators
  Lucene, Java regex, and RE2 all agree on). Lucene's OPTIONAL
  operators (``~`` complement, ``<>`` numeric interval, ``&``
  intersection, ``@`` any-string) and Java-only anchors (``^ $``)
  are rejected with a clear error instead of silently changing
  meaning across engines;
- the chars before the first metacharacter are the query's literal
  anchor, the analog of the dictionary-range seek Lucene's automaton
  gets from its common prefix; a pattern starting at a metacharacter
  scans the full dictionary (Lucene's cost model, inherited).
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

_META = set(".?+*|(){}[]")
_REJECTED = set("^$~<>&@")  # Lucene-optional or Java-only operators


def to_anchored(pattern: str) -> str:
    """Portable Lucene-core regexp → anchored regex usable by both
    Spark (Java) and the DuckDB oracle (RE2). Raises on operators the
    two engines (or Lucene) disagree on."""
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            if i + 1 >= len(pattern):
                raise ValueError(f"trailing backslash in regexp {pattern!r}")
            i += 2
            continue
        if ch in _REJECTED:
            raise ValueError(
                f"unsupported regexp operator {ch!r} in {pattern!r}: only the "
                "portable Lucene-core syntax (. ? + * | ( ) [ ] {{ }} and "
                "backslash escapes) is accepted"
            )
        i += 1
    return f"^(?:{pattern})$"


def literal_prefix(pattern: str) -> str:
    """Chars before the first metacharacter — the pushable scan
    anchor (the analog of Lucene's automaton common-prefix seek)."""
    out = []
    i = 0
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\" and i + 1 < len(pattern) and pattern[i + 1] in _META | {"\\"}:
            out.append(pattern[i + 1])
            i += 2
            continue
        if ch in _META or ch == "\\":
            break
        out.append(ch)
        i += 1
    # a trailing literal followed by ? * {0,..} may make the LAST
    # literal char optional — drop one char to stay conservative
    if i < len(pattern) and pattern[i] in ("?", "*", "{") and out:
        out.pop()
    return "".join(out)


def _validated(queries: list[tuple[int, str]]) -> list[tuple[int, str]]:
    if not queries or any(not p for _, p in queries):
        raise ValueError("regexp patterns must be non-empty strings")
    return [(int(qid), str(p)) for qid, p in queries]


def regexp_expand(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
) -> list[tuple[int, list[str]]]:
    """Expand each (query_id, pattern): the first ``max_expansions``
    whole-term-matching dictionary terms in term order. No-match
    queries → []."""
    queries = [
        (qid, F.col("term").rlike(to_anchored(p)), literal_prefix(p))
        for qid, p in _validated(queries)
    ]
    return _expansion_lists(
        _expand_capped(index.dictionary, queries, max_expansions), queries
    )


def regexp_topk(
    index: InvertedIndex,
    queries: list[tuple[int, str]],
    k: int = 10,
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    prune: bool = False,
) -> DataFrame:
    """BM25 top-k for regexp queries: (query_id, doc_id, score, rank).
    Scores exactly like ``score_queries`` on the expanded term list
    (bool-OR); no-match patterns yield no rows."""
    return _expanded_topk(
        index, regexp_expand(index, queries, max_expansions), k, prune
    )
