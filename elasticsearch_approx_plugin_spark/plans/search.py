"""Replay an ES ``_search`` request body end-to-end: hits + facets.

``request_parser`` replays the reference's facet REQUESTs; this module
adds the other half of the search API — the scored hit list — so a
user can POST the same ``_search`` JSON they send to Elasticsearch and
get back (doc_id, score, rank[, snippet]) plus the parsed facet specs.
Every query type dispatches, through the kind → handler table
``_KINDS``, to the operator that already implements its semantics
(and carries its oracle gate):

====================  =================================================
clause                operator
====================  =================================================
``match`` (OR)        ``bm25.score_queries`` — terms via the index's
                      whitespace analysis
``match`` (AND /      ``bm25.bool_should_topk`` with m = n_terms /
``minimum_should_     the requested m
match``)
``match_phrase``      ``phrase.phrase_topk`` (needs ``tokens``)
``query_string``      ``query_string.query_string_topk`` — the +/-/
                      phrase Lucene-core grammar (``tokens`` needed
                      for phrase clauses)
``prefix``            ``prefix.prefix_topk``
``fuzzy``             ``fuzzy.fuzzy_topk``
``wildcard``          ``wildcard.wildcard_topk``
``regexp``            ``regexp.regexp_topk``
``more_like_this``    ``mlt.mlt_topk``
``bool`` w/ should    ``bm25.bool_should_topk``
plain (boost 1)
term clauses
``constant_score``    every filter match scores the boost (needs
                      ``docs``)
``filtered``          inner scored query, hit set intersected with
                      ``lower_filter`` evaluated on ``docs``
``match_all``         every visible doc scores the boost
``term``              single-term BM25 (optional ``boost``)
``terms``             ``bm25.score_queries`` / ``bool_should_topk``
                      with m = ``minimum_match``
``ids``               listed visible docs score 1.0
``dis_max``           max over sub-queries + tie_breaker × the rest
``boosting``          positive query's scores, demoted by
                      ``negative_boost`` where the negative matches
``bool``              must/should/must_not over ANY scored sub-query
                      (sum-of-scores, Lucene coord-free like ES ≥ 2);
                      a ``should``-only bool of plain terms keeps
                      the fast ``bool_should_topk`` path
``span_near``         ``span.span_near_topk`` — proximity over
                      span_term clauses (needs ``tokens``)
``span_first``        ``span.span_first_match`` gating BM25 (needs
                      ``tokens``)
``function_score``    ``function_score.apply_functions`` over ANY
                      inner scored query (uncapped — decay re-ranks
                      everything; needs ``docs`` for the fields)
``common``            ``common_terms.common_terms_topk`` —
                      df-partitioned matching (low group matches,
                      high group scores)
====================  =================================================

A top-level ``rescore`` block re-scores the base query's top
``window_size`` by a match/match_phrase rescore_query through
``rescore.rescore_window`` (strict: window must cover from+size, no
sort). The ``suggest`` section replays via :func:`suggest_block`.

Pagination (``from``/``size``) trims AFTER ranking, like ES; a
``highlight`` block attaches snippets via ``highlight.highlight_topk``
semantics; a ``sort`` block re-ranks the FULL match set by field
values (ties broken by doc_id — ES's tiebreak is shard doc order,
which a deterministic engine replaces with the stable id).

Parsing is table-driven and strict, like ``request_parser``: each
``_KINDS`` entry lists the keys its body must and may carry, the
field wrapping of its body, and the DataFrame (``tokens``/``docs``)
its handler reads. One check (``_parse`` over
``request_parser._strict_keys``) runs on every clause before
dispatch, so an unknown key or kind raises ``ValueError`` and a
missing required key raises ``ValueError`` — nothing silently drops.

Every combinator composes the gated primitives through id-set joins
and a groupBy on ``doc_id`` over CANDIDATE rows only — frames bounded
by the sub-queries' match counts, never a corpus-wide shuffle — so
the 100 TB story of the underlying scorers carries through unchanged.
"""

from __future__ import annotations

import functools
import math
import re
from typing import Any, Callable, NamedTuple

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import round6_oracle
from ..functions.small_df import small_df

from ..operators.bm25 import bool_should_topk, score_queries
from ..operators.fuzzy import fuzzy_topk
from ..operators.mlt import mlt_topk
from ..operators.postings import InvertedIndex
from ..operators.prefix import DEFAULT_MAX_EXPANSIONS, MAX_EDITS, prefix_topk
from ..operators.regexp import regexp_topk
from ..operators.wildcard import wildcard_topk
from .request_parser import _one_key, _strict_keys, lower_filter

DEFAULT_SIZE = 10  # the ES default


class _Ctx(NamedTuple):
    """What every clause handler reads besides its body."""

    index: InvertedIndex
    tokens: DataFrame | None
    docs: DataFrame | None
    prune: bool


class _Kind(NamedTuple):
    """One query kind: its handler and the shape of its body."""

    run: Callable[[_Ctx, dict[str, Any], int], DataFrame] | None
    required: str = ""  # space-separated keys the body must carry
    optional: str = ""
    needs: str = ""  # the DataFrame the handler reads: "tokens" or "docs"
    # "" — the body is the object itself; "object" — {field: object};
    # "bare" — {field: object or bare value}, the bare value read as
    # {required: value}; "sibling" — {field: value, option: ...}
    field: str = ""


def _analyze(text: str) -> list[str]:
    """The Python twin of ``tokenize_ws`` (whitespace split, empties
    dropped) — query-side analysis must match index-side analysis."""
    return [t for t in re.split(r"\s+", text) if t]


def _need(df: DataFrame | None, name: str, what: str) -> None:
    if df is None:
        raise ValueError(f"{what} needs the {name} DataFrame")


def _weight(body: dict[str, Any], key: str, default: float, hi: float = math.inf) -> float:
    """A ``boost``/``tie_breaker``/``negative_boost`` value, parsed
    strictly: finite and in [0, ``hi``] (ES bounds the last two to
    [0, 1]). ``round6_oracle``'s half-up contract holds only for
    scores >= 0, so a negative weight must not reach it."""
    v = float(body.get(key, default))
    if not (math.isfinite(v) and 0.0 <= v <= hi):
        raise ValueError(f"{key} must be a finite number in [0, {hi:g}], got {v!r}")
    return v


def _rank(hits: DataFrame, k: int | None) -> DataFrame:
    """1-based dense ranking by (score desc, doc_id) within query_id,
    trimmed to k (None: untrimmed) — the ordering contract every
    scorer here shares."""
    ranked = hits.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("doc_id")
            )
        )
        .cast("long"),
    )
    return ranked if k is None else ranked.filter(F.col("rank") <= k)


def _hits(df: DataFrame, score: Any) -> DataFrame:
    """``df``'s doc ids as query 0's hits, each scoring ``score``."""
    return df.select(
        F.lit(0).cast("long").alias("query_id"), F.col("doc_id"), score.alias("score")
    )


def _visible_doc_ids(index: InvertedIndex) -> DataFrame:
    """The index's live doc universe: doc_stats minus tombstones (the
    Lucene live-docs view the scorers already apply)."""
    if index.doc_stats is None:
        raise ValueError(
            "match_all/ids need an index with doc_stats (build_index and "
            "read_index both provide it)"
        )
    ids = index.doc_stats.select("doc_id")
    if index.tombstones is not None:
        ids = ids.join(index.tombstones.select("doc_id"), "doc_id", "left_anti")
    return ids


def _as_clause_list(val: Any, occur: str) -> list[dict[str, Any]]:
    if val is None:
        return []
    if isinstance(val, dict):
        return [val]
    if isinstance(val, list) and all(isinstance(c, dict) for c in val):
        return val
    raise ValueError(f"bool {occur} must be a clause object or a list of them")


def _union(parts: list[DataFrame]) -> DataFrame:
    return functools.reduce(DataFrame.unionByName, parts)


def _non_empty_list(body: dict[str, Any], key: str, kind: str) -> list[Any]:
    vals = body[key]
    if not isinstance(vals, list) or not vals:
        raise ValueError(f"{kind} query requires a non-empty {key} list")
    return vals


# -- one handler per query kind: (ctx, checked body, k) → hits ----------


def _should(ctx: _Ctx, terms: list[str], m: int, k: int) -> DataFrame:
    """Docs matching at least ``m`` of ``terms``, BM25-scored (the
    plain OR scorer when m is 1)."""
    if m > 1:
        return bool_should_topk(ctx.index, [(0, terms, m)], k, prune=ctx.prune)
    return score_queries(ctx.index, [(0, terms)], k, prune=ctx.prune)


def _match(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    terms = _analyze(b["query"])
    if not terms:
        raise ValueError("match query analyzed to zero terms")
    operator = b.get("operator", "or").lower()
    if operator not in ("and", "or"):
        raise ValueError(f"match operator must be and/or, got {operator!r}")
    msm = len(set(terms)) if operator == "and" else b.get("minimum_should_match")
    return _should(ctx, terms, int(msm or 1), k)


def _match_phrase(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    from ..operators.phrase import phrase_topk

    if b.get("slop", 0) != 0:
        raise ValueError("match_phrase query: slop > 0 is not supported")
    return phrase_topk(ctx.index, ctx.tokens, [(0, _analyze(b["query"]))], k)


def _terms(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    # ES terms query: bool-OR over the listed terms; 0.90's
    # minimum_match is minimum_should_match's older name
    if "minimum_match" in b and "minimum_should_match" in b:
        raise ValueError("terms query: give minimum_match or minimum_should_match, not both")
    terms = [str(v) for v in _non_empty_list(b, "terms", "terms")]
    return _should(ctx, terms, int(b.get("minimum_match", b.get("minimum_should_match", 1))), k)


def _expand(topk: Callable[..., DataFrame], ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    return topk(ctx.index, [(0, b["value"])], k, prune=ctx.prune)


def _fuzzy(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    return fuzzy_topk(
        ctx.index,
        [(0, b["value"])],
        k,
        fuzziness=int(b.get("fuzziness", MAX_EDITS)),
        prefix_length=int(b.get("prefix_length", 0)),
        max_expansions=int(b.get("max_expansions", DEFAULT_MAX_EXPANSIONS)),
        prune=ctx.prune,
    )


def _more_like_this(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    return mlt_topk(
        ctx.index,
        [(0, b["like_text"])],
        k,
        max_query_terms=int(b.get("max_query_terms", 25)),
        min_term_freq=int(b.get("min_term_freq", 2)),
        min_doc_freq=int(b.get("min_doc_freq", 5)),
        prune=ctx.prune,
    )


def _query_string(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    from ..operators.query_string import query_string_topk

    return query_string_topk(
        ctx.index,
        ctx.tokens,
        b["query"],
        k,
        default_operator=str(b.get("default_operator", "or")).lower(),
        prune=ctx.prune,
    )


def _span_term(clause: Any) -> str:
    """The term of a ``{"span_term": {field: value}}`` span clause."""
    return str(_parse(clause, _SPAN_KINDS)[2]["value"])


def _span_near(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    from ..operators.span import span_near_topk

    terms = [_span_term(c) for c in _non_empty_list(b, "clauses", "span_near")]
    return span_near_topk(
        ctx.index,
        ctx.tokens,
        [(0, terms)],
        k,
        slop=int(b.get("slop", 0)),
        in_order=bool(b.get("in_order", False)),
    )


def _span_first(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    from ..operators.span import span_first_match

    term = _span_term(b["match"])
    matched = span_first_match(
        ctx.index, ctx.tokens, [(0, term)], end=int(b["end"])
    ).select("doc_id")
    scored = score_queries(
        ctx.index, [(0, [term])], ctx.index.n_docs, prune=ctx.prune, ranked=False
    )
    return _rank(
        scored.join(matched, "doc_id", "left_semi").select("query_id", "doc_id", "score"),
        k,
    )


def _match_all(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    boost = round(_weight(b, "boost", 1.0), 6)
    return _rank(_hits(_visible_doc_ids(ctx.index), F.lit(boost).cast("double")), k)


def _term(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    val, boost = str(b["value"]), _weight(b, "boost", 1.0)
    if boost == 1.0:
        return score_queries(ctx.index, [(0, [val])], k, prune=ctx.prune)
    # boost rescales AFTER the 6-dp rounding the scorer applies, and
    # re-rounds — ties can move across the grid, so re-rank the full
    # match set instead of trusting the unscaled ranks
    scored = score_queries(
        ctx.index, [(0, [val])], ctx.index.n_docs, prune=ctx.prune, ranked=False
    )
    return _rank(
        scored.select(
            "query_id", "doc_id", round6_oracle(F.col("score") * boost).alias("score")
        ),
        k,
    )


def _ids(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    vals = [int(v) for v in _non_empty_list(b, "values", "ids")]
    ids = _visible_doc_ids(ctx.index).filter(F.col("doc_id").isin(vals))
    return _rank(_hits(ids, F.lit(1.0).cast("double")), k)


def _dis_max(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    subs = _non_empty_list(b, "queries", "dis_max")
    tie = _weight(b, "tie_breaker", 0.0, 1.0)
    boost = _weight(b, "boost", 1.0)
    # per-doc dismax over the union of candidate rows (bounded by
    # Σ sub-query match counts, not the corpus)
    u = _union([_scored_hits(ctx, sub).select("doc_id", "score") for sub in subs])
    agg = u.groupBy("doc_id").agg(F.max("score").alias("best"), F.sum("score").alias("total"))
    combined = (
        F.col("best") + F.lit(tie) * (F.col("total") - F.col("best"))
    ) * F.lit(boost)
    return _rank(_hits(agg, round6_oracle(combined)), k)


def _boosting(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    nb = _weight(b, "negative_boost", 0.5, 1.0)
    pos = _scored_hits(ctx, b["positive"])
    neg = (
        _scored_hits(ctx, b["negative"])
        .select("doc_id")
        .distinct()
        .withColumn("_demote", F.lit(True))
    )
    demoted = pos.join(neg, "doc_id", "left").select(
        "query_id",
        "doc_id",
        round6_oracle(
            F.col("score") * F.when(F.col("_demote"), F.lit(nb)).otherwise(F.lit(1.0))
        ).alias("score"),
    )
    return _rank(demoted, k)


def _bool(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    must, should, must_not = (
        _as_clause_list(b.get(occur), occur) for occur in ("must", "should", "must_not")
    )
    if not must and not should:
        raise ValueError("scored bool query needs at least one must or should clause")
    # fast path: a should-only bool of plain (boost 1) terms keeps the
    # in-scorer match counting (one postings pass, no per-clause jobs)
    if not must and not must_not:
        parsed = [_parse(sub) for sub in should]
        if all(kind == "term" and _weight(s, "boost", 1.0) == 1.0 for kind, _, s in parsed):
            terms = [str(s["value"]) for _, _, s in parsed]
            m = int(b.get("minimum_should_match", 1))
            return bool_should_topk(ctx.index, [(0, terms, m)], k, prune=ctx.prune)
    # Lucene BooleanQuery, coord-free (ES ≥ 2 semantics): score =
    # Σ matched clause scores; every must clause gates candidacy;
    # minimum_should_match applies to should clauses (default 1
    # when the query is should-only, else 0)
    msm = int(b.get("minimum_should_match", 1 if (should and not must) else 0))
    u = _union([
        _scored_hits(ctx, sub).select("doc_id", "score", F.lit(occur == "must").alias("_is_must"))
        for occur, clauses in (("must", must), ("should", should))
        for sub in clauses
    ])
    agg = u.groupBy("doc_id").agg(
        F.round(F.sum("score"), 6).alias("score"),
        F.sum(F.when(F.col("_is_must"), 1).otherwise(0)).alias("_n_must"),
        F.sum(F.when(F.col("_is_must"), 0).otherwise(1)).alias("_n_should"),
    )
    hits = agg.filter((F.col("_n_must") == len(must)) & (F.col("_n_should") >= msm))
    for sub in must_not:
        hits = hits.join(_scored_hits(ctx, sub).select("doc_id"), "doc_id", "left_anti")
    return _rank(_hits(hits, F.col("score")), k)


def _constant_score(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    # every filter-matched doc scores exactly the boost (ES
    # ConstantScoreQuery); the scores tie, so ranks follow doc_id
    boost = round(_weight(b, "boost", 1.0), 6)
    matched = ctx.docs.filter(lower_filter(b["filter"]))
    return _rank(_hits(matched, F.lit(boost).cast("double")), k)


def _filtered(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    # ES filters the candidate set BEFORE ranking: score everything
    # (k = n_docs — the scorers compute all scores before the
    # group-limit anyway), intersect with the filter on docs, then
    # re-rank. At scale the filtered id set rides a broadcast-able
    # semi join (filter selectivity is the knob, same as ES). The ranks
    # stay untrimmed: a top-level caller trims them to its page, and a
    # caller that drops them (_count, combinators) lets Catalyst prune
    # the window.
    pred = lower_filter(b["filter"])
    scored = _scored_hits(ctx, b.get("query", {"match_all": {}}))
    keep = ctx.docs.filter(pred).select(F.col("doc_id"))
    return _rank(scored.join(keep, "doc_id", "left_semi"), None)


def _common(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    # Lucene CommonTermsQuery (the stopword-free frequent-term
    # query) — semantics in operators/common_terms.py
    from ..operators.common_terms import common_terms_topk

    terms = _analyze(str(b["query"]))
    if not terms:
        raise ValueError("common query analyzed to zero terms")
    msm = b.get("minimum_should_match")
    if isinstance(msm, dict):
        msm = _strict_keys(msm, "common minimum_should_match", (), ("low_freq",))["low_freq"]
    return common_terms_topk(
        ctx.index,
        [(0, terms)],
        k,
        cutoff_frequency=float(b.get("cutoff_frequency", 0.01)),
        low_freq_operator=b.get("low_freq_operator", "or"),
        high_freq_operator=b.get("high_freq_operator", "or"),
        minimum_should_match=int(msm) if msm is not None else None,
        corpus=ctx.tokens,  # scale path when available (None = postings path)
    )


def _function_score(ctx: _Ctx, b: dict[str, Any], k: int) -> DataFrame:
    # decay/boost functions over ANY inner scored query — the inner
    # query scores UNCAPPED (functions re-rank everything), then
    # operators.function_score.apply_functions does the closed-form
    # combine (see its module docstring)
    from ..operators.function_score import apply_functions

    return apply_functions(
        _scored_hits(ctx, b["query"]).drop("rank"),
        ctx.docs,
        b["functions"],
        k,
        boost_mode=b.get("boost_mode", "multiply"),
        score_mode=b.get("score_mode", "multiply"),
    )


# kind → handler and body shape; the order is the one the unsupported-
# kind message lists
_KINDS: dict[str, _Kind] = {
    "match": _Kind(_match, "query", "operator minimum_should_match", field="bare"),
    "match_phrase": _Kind(_match_phrase, "query", "slop", needs="tokens", field="bare"),
    "term": _Kind(_term, "value", "boost", field="bare"),
    "terms": _Kind(_terms, "terms", "minimum_match minimum_should_match", field="sibling"),
    "match_all": _Kind(_match_all, "", "boost"),
    "ids": _Kind(_ids, "values", "type"),
    "prefix": _Kind(functools.partial(_expand, prefix_topk), "value", field="bare"),
    "fuzzy": _Kind(
        _fuzzy, "value", "fuzziness prefix_length max_expansions", field="bare"
    ),
    "wildcard": _Kind(functools.partial(_expand, wildcard_topk), "value", field="bare"),
    "regexp": _Kind(functools.partial(_expand, regexp_topk), "value", field="bare"),
    "more_like_this": _Kind(
        _more_like_this, "like_text", "fields max_query_terms min_term_freq min_doc_freq"
    ),
    "query_string": _Kind(_query_string, "query", "default_operator"),
    "bool": _Kind(_bool, "", "must should must_not minimum_should_match"),
    "dis_max": _Kind(_dis_max, "queries", "tie_breaker boost"),
    "boosting": _Kind(_boosting, "positive negative", "negative_boost"),
    "span_near": _Kind(_span_near, "clauses", "slop in_order", needs="tokens"),
    "span_first": _Kind(_span_first, "match end", needs="tokens"),
    "constant_score": _Kind(_constant_score, "filter", "boost", needs="docs"),
    "filtered": _Kind(_filtered, "filter", "query", needs="docs"),
    "function_score": _Kind(
        _function_score, "query functions", "score_mode boost_mode", needs="docs"
    ),
    "common": _Kind(
        _common,
        "query",
        "cutoff_frequency low_freq_operator high_freq_operator minimum_should_match",
        field="object",
    ),
}
# the leaf clauses read only for their value: span clauses and the
# rescore query
_SPAN_KINDS = {"span_term": _Kind(None, "value", field="bare")}
_RESCORE_KINDS = {k: _Kind(None, "query", field="bare") for k in ("match", "match_phrase")}


def _parse(
    clause: Any, kinds: dict[str, _Kind] = _KINDS
) -> tuple[str, _Kind, dict[str, Any]]:
    """A clause → (kind, its table entry, its body as a checked
    object): the one key check every clause passes before dispatch.
    Field-wrapped bodies are unwrapped (the engine indexes one field,
    so the name is not read)."""
    kind, body = _one_key(clause, "query clause")
    entry = kinds.get(kind)
    if entry is None:
        raise ValueError(
            f"unsupported search query type {kind!r} (supported: {', '.join(kinds)})"
        )
    what = f"{kind} query"
    if entry.field == "sibling" and isinstance(body, dict):
        opts = {o: v for o, v in body.items() if o in entry.optional.split()}
        field = {f: v for f, v in body.items() if f not in opts}
        body = {**opts, entry.required: _one_key(field, f"{what} field")[1]}
    elif entry.field:
        _, body = _one_key(body, f"{what} field")
        if entry.field == "bare" and not isinstance(body, dict):
            body = {entry.required: body}
    return kind, entry, _strict_keys(body, what, entry.optional.split(), entry.required.split())


def _scored_hits(ctx: _Ctx, clause: Any, k: int | None = None) -> DataFrame:
    """(query_id=0, doc_id, score, rank) for one scored query clause,
    trimmed to the top ``k`` (default: every match)."""
    kind, entry, body = _parse(clause)
    if entry.needs:
        _need(getattr(ctx, entry.needs), entry.needs, kind)
    return entry.run(ctx, body, ctx.index.n_docs if k is None else k)


def search_topk(
    index: InvertedIndex,
    request: dict[str, Any],
    tokens: DataFrame | None = None,
    docs: DataFrame | None = None,
    prune: bool = False,
) -> DataFrame:
    """Replay a ``_search`` request body → the hit list
    ``(doc_id, score, rank[, snippet])``, ranks 1-based BEFORE
    pagination so ``from``/``size`` read like ES's.

    Facets in the request are NOT executed here — pass the same dict
    to ``request_parser.parse_request`` for the facet side (the two
    compose; this function validates but ignores the ``facets`` key).
    """
    request = _strict_keys(
        request,
        "_search",
        ("size", "from", "highlight", "facets", "sort", "rescore", "search_after"),
        ("query",),
    )
    ctx = _Ctx(index, tokens, docs, prune)
    size = int(request.get("size", DEFAULT_SIZE))
    offset = int(request.get("from", 0))
    if size < 1 or offset < 0:
        raise ValueError(f"size must be >= 1 and from >= 0, got {size}/{offset}")
    sort = request.get("sort")
    resc = request.get("rescore")
    after = request.get("search_after")
    if after is not None:
        # deep pagination the way ES does it: a (score, doc_id) cursor
        # — the last hit of the previous page under the deterministic
        # relevance order (score desc, doc_id asc) — replaces from.
        # O(page) state per page instead of from+size ranking ever
        # deeper; the scorers compute all scores anyway, so the cursor
        # filter drops rows BEFORE the ranking window.
        if sort is not None or resc is not None:
            raise ValueError("search_after supports the relevance order only")
        if offset:
            raise ValueError("search_after replaces from — use one or the other")
        if not isinstance(after, (list, tuple)) or len(after) != 2:
            raise ValueError("search_after must be [last_score, last_doc_id]")
        s_a, d_a = round(float(after[0]), 6), int(after[1])
        scored = _scored_hits(ctx, request["query"]).drop("rank")
        hits = _rank(
            scored.filter(
                (F.col("score") < s_a)
                | ((F.col("score") == s_a) & (F.col("doc_id") > d_a))
            ),
            size,
        )
    elif resc is not None:
        if sort is not None:
            raise ValueError("rescore does not combine with sort (sort replaces relevance)")
        _need(tokens, "tokens", "rescore")
        from ..operators.rescore import rescore_window

        resc = _strict_keys(resc, "rescore", (), ("window_size", "query"))
        rq = _strict_keys(
            resc["query"],
            "rescore query",
            ("query_weight", "rescore_query_weight"),
            ("rescore_query",),
        )
        rkind, _, rspec = _parse(rq["rescore_query"], _RESCORE_KINDS)
        rterms = _analyze(str(rspec["query"]))
        if not rterms:
            raise ValueError("rescore query analyzed to zero terms")
        window = int(resc["window_size"])
        if window < offset + size:
            raise ValueError(
                f"rescore window_size ({window}) must cover from+size ({offset + size})"
            )
        base = _scored_hits(ctx, request["query"], window).drop("rank")
        hits = rescore_window(
            index,
            base,
            tokens,
            {0: rterms},
            k=offset + size,
            query_weight=float(rq.get("query_weight", 1.0)),
            rescore_query_weight=float(rq.get("rescore_query_weight", 1.0)),
            rescore_type=rkind,
        ).filter((F.col("rank") > offset) & (F.col("rank") <= offset + size))
    elif sort is not None:
        # field sort re-ranks the FULL match set by doc-field values
        # (ES semantics: sort replaces relevance ordering; score still
        # reported). Ties break by doc_id — the deterministic stand-in
        # for ES's shard-doc-order tiebreak.
        _need(docs, "docs", "sort")
        sort_cols, sort_fields = _sort_order(sort)
        matched = _scored_hits(ctx, request["query"]).drop("rank")
        hits = (
            matched.join(docs.select("doc_id", *sort_fields), "doc_id")
            .withColumn(
                "rank",
                F.row_number()
                .over(
                    Window.partitionBy("query_id").orderBy(
                        *sort_cols, F.col("doc_id")
                    )
                )
                .cast("long"),
            )
            .filter((F.col("rank") > offset) & (F.col("rank") <= offset + size))
        )
    else:
        hits = _scored_hits(ctx, request["query"], offset + size).filter(
            (F.col("rank") > offset) & (F.col("rank") <= offset + size)
        )
    hl = request.get("highlight")
    if hl is not None:
        _need(docs, "docs", "highlight")
        hl = _strict_keys(hl, "highlight", ("fragment_size", "pre_tags", "post_tags", "fields"))
        from ..operators.highlight import (
            DEFAULT_FRAG_SIZE,
            DEFAULT_POST_TAG,
            DEFAULT_PRE_TAG,
            _first_match_pos,
            _wrap,
        )

        terms = _highlight_terms(request["query"])
        frag_size = int(hl.get("fragment_size", DEFAULT_FRAG_SIZE))
        (pre,) = hl.get("pre_tags", [DEFAULT_PRE_TAG])
        (post,) = hl.get("post_tags", [DEFAULT_POST_TAG])
        padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
        pos = _first_match_pos(padded, terms)
        snip = F.trim(_wrap(F.substring(padded, pos, frag_size), terms, pre, post))
        hits = hits.join(
            docs.select("doc_id", snip.alias("snippet")), "doc_id"
        )
    return hits.drop("query_id").select(
        "doc_id",
        "score",
        "rank",
        *(sort_fields if sort is not None else []),
        *(["snippet"] if hl is not None else []),
    )


def _sort_order(sort: Any) -> tuple[list[F.Column], list[str]]:
    """Normalize an ES ``sort`` block → (order columns, doc field names
    to join). Missing values sort LAST in either direction (the ES
    ``missing: _last`` default)."""
    entries = sort if isinstance(sort, list) else [sort]
    if not entries:
        raise ValueError("sort block must be non-empty")
    cols: list[F.Column] = []
    fields: list[str] = []
    for e in entries:
        if isinstance(e, str):
            fld, order = e, ("desc" if e == "_score" else "asc")
        elif isinstance(e, dict) and len(e) == 1:
            ((fld, spec),) = e.items()
            if isinstance(spec, str):
                order = spec
            else:
                spec = _strict_keys(spec, f"sort field {fld!r}", ("order",))
                order = spec.get("order", "desc" if fld == "_score" else "asc")
        else:
            raise ValueError(f"bad sort entry {e!r}")
        if order not in ("asc", "desc"):
            raise ValueError(f"sort order must be asc/desc, got {order!r}")
        col = F.col("score") if fld == "_score" else F.col(fld)
        cols.append(col.asc_nulls_last() if order == "asc" else col.desc_nulls_last())
        if fld != "_score":
            if fld in ("doc_id", "score", "rank"):
                raise ValueError(f"cannot sort on reserved hit column {fld!r}")
            fields.append(fld)
    return cols, list(dict.fromkeys(fields))


def _highlight_terms(clause: Any) -> list[str]:
    """The literal terms a query contributes to highlighting: those of
    its match, match_phrase and term clauses, through the positive
    clauses of bool and the inner query of filtered (the
    expansion-based types would need their expanded term lists — ES's
    plain highlighter has the same rewrite dependence; unsupported
    here, raises)."""
    kind, _, body = _parse(clause)
    if kind in ("match", "match_phrase"):
        return _analyze(body["query"])
    if kind == "term":
        return [str(body["value"])]
    if kind == "bool":
        return [
            t
            for occur in ("must", "should")
            for sub in _as_clause_list(body.get(occur), occur)
            for t in _highlight_terms(sub)
        ]
    if kind == "filtered":
        return _highlight_terms(body.get("query", {"match_all": {}}))
    raise ValueError(f"highlight is not supported for query type {kind!r}")


def suggest_block(
    index: InvertedIndex,
    request: dict[str, Any],
    tokens: DataFrame | None = None,
) -> DataFrame:
    """Replay the ``suggest`` section of a request →
    ``(name, input, suggestion, score, freq, rank)``.

    Shape (the ES 0.90 suggest API): ``{"suggest": {<name>: {"text":
    str, "term": {<options>}}}}`` (or the bare inner dict). The text
    analyzes through the same whitespace analyzer as the index; each
    token gets its own suggestions (ES per-token entries). ``field``
    is required by ES and accepted here, but this engine indexes one
    field — any value names it. Strict elsewhere: unknown option keys
    raise. One :func:`~...operators.suggest.term_suggest` call per
    named suggester (its options differ per name), each a single
    prefix-pruned dictionary scan.

    A ``"phrase"`` suggester entry routes to
    :func:`~...operators.phrase_suggest.phrase_suggest` (needs the
    ``tokens`` corpus for the bigram LM); its rows carry the WHOLE
    text as ``input`` and a NULL ``freq`` (phrase options have no
    single document frequency).
    """
    from ..operators.suggest import term_suggest

    body = request.get("suggest", request)
    if not isinstance(body, dict) or not body:
        raise ValueError("suggest block must be a non-empty object")
    spark = index.dictionary.sparkSession
    parts = []
    for name, spec in body.items():
        what = f"suggester {name!r}"
        spec = _strict_keys(spec, what, ("term", "phrase"), ("text",))
        if ("term" in spec) == ("phrase" in spec):
            raise ValueError(f"{what} requires exactly one of term/phrase")
        text = str(spec["text"])
        if "phrase" in spec:
            from ..operators.phrase_suggest import phrase_suggest

            _need(tokens, "tokens", f"{what}: phrase suggester")
            popts = _strict_keys(
                spec["phrase"],
                what,
                ("field", "size", "candidates_per_token", "max_edits", "prefix_length", "alpha"),
            )
            popts.pop("field", None)  # single indexed field; any value names it
            parts.append(phrase_suggest(index, tokens, text, **popts).select(
                F.lit(name).alias("name"),
                F.lit(text).alias("input"),
                "suggestion",
                "score",
                F.lit(None).cast("long").alias("freq"),
                "rank",
            ))
            continue
        opts = _strict_keys(
            spec["term"],
            what,
            ("field", "size", "suggest_mode", "sort", "max_edits", "prefix_length",
             "min_word_length", "min_doc_freq"),
        )
        opts.pop("field", None)
        toks = _analyze(text)
        if not toks:
            raise ValueError(f"{what}: text analyzed to zero tokens")
        inputs = list(enumerate(toks))
        sugg = term_suggest(index, inputs, **opts)
        labels = small_df(spark, 
            [(qid, name, tok) for qid, tok in inputs],
            "query_id long, name string, input string",
        )
        parts.append(sugg.join(F.broadcast(labels), "query_id").select(
            "name", "input", "suggestion", "score", "freq", "rank"
        ))
    return _union(parts)


def count_hits(
    index: InvertedIndex,
    request: dict[str, Any],
    tokens: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """The ES ``_count`` API: one row ``(count)`` — how many docs match
    the request's query. Dispatches through the same strict query
    parser as ``_search`` (every gated query type counts), with the
    ranking window elided: the scorer output aggregates to a single
    count, so no top-k window runs at all."""
    request = _strict_keys(request, "_count", (), ("query",))
    hits = _scored_hits(_Ctx(index, tokens, docs, False), request["query"])
    return hits.agg(F.count("*").cast("long").alias("count"))
