"""Replay an ES ``_search`` request body end-to-end: hits + facets.

``request_parser`` replays the reference's facet REQUESTs; this module
adds the other half of the search API — the scored hit list — so a
user can POST the same ``_search`` JSON they send to Elasticsearch and
get back (doc_id, score, rank[, snippet]) plus the parsed facet specs.
Every query type dispatches to the operator that already implements
its semantics (and carries its oracle gate):

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
term clauses
``constant_score``    every filter match scores the boost (needs
                      ``docs``)
``filtered``          inner scored query, hit set intersected with
                      ``lower_filter`` evaluated on ``docs``
``match_all``         every visible doc scores the boost
``term``              single-term BM25 (optional ``boost``)
``ids``               listed visible docs score 1.0
``dis_max``           max over sub-queries + tie_breaker × the rest
``boosting``          positive query's scores, demoted by
                      ``negative_boost`` where the negative matches
``bool``              must/should/must_not over ANY scored sub-query
                      (sum-of-scores, Lucene coord-free like ES ≥ 2);
                      all-term ``should``-only keeps the fast
                      ``bool_should_topk`` path
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
which a deterministic engine replaces with the stable id). Anything
unrecognized raises — the parser's strict no-silent-drop posture,
same as ``request_parser``.

Every combinator composes the gated primitives through id-set joins
and a groupBy on ``doc_id`` over CANDIDATE rows only — frames bounded
by the sub-queries' match counts, never a corpus-wide shuffle — so
the 100 TB story of the underlying scorers carries through unchanged.
"""

from __future__ import annotations

import math
import re
from typing import Any

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
from .request_parser import lower_filter

DEFAULT_SIZE = 10  # the ES default
# leaf queries whose only key is the pattern ``value``
_EXPANDING = {"prefix": prefix_topk, "wildcard": wildcard_topk, "regexp": regexp_topk}


def _analyze(text: str) -> list[str]:
    """The Python twin of ``tokenize_ws`` (whitespace split, empties
    dropped) — query-side analysis must match index-side analysis."""
    return [t for t in re.split(r"\s+", text) if t]


def _field_body(clause_body: dict[str, Any], kind: str) -> tuple[str, Any]:
    if len(clause_body) != 1:
        raise ValueError(f"{kind} query must name exactly one field, got {sorted(clause_body)}")
    ((fld, spec),) = clause_body.items()
    return fld, spec


def _spec_value(spec: Any, kind: str, key: str, options: set[str]) -> Any:
    """A leaf query's value: the bare form, or ``spec[key]`` of the
    object form. Keys other than ``key`` and ``options`` raise rather
    than being dropped."""
    if not isinstance(spec, dict):
        return spec
    if key not in spec:
        raise ValueError(f"{kind} query requires {key!r}")
    unknown = set(spec) - options - {key}
    if unknown:
        raise ValueError(f"{kind} query: unsupported option(s) {sorted(unknown)}")
    return spec[key]


def _weight(body: dict[str, Any], key: str, default: float, hi: float = math.inf) -> float:
    """A ``boost``/``tie_breaker``/``negative_boost`` value, parsed
    strictly: finite and in [0, ``hi``] (ES bounds the last two to
    [0, 1]). ``round6_oracle``'s half-up contract holds only for
    scores >= 0, so a negative weight must not reach it."""
    v = float(body.get(key, default))
    if not (math.isfinite(v) and 0.0 <= v <= hi):
        raise ValueError(f"{key} must be a finite number in [0, {hi:g}], got {v!r}")
    return v


def _rank(hits: DataFrame, k: int) -> DataFrame:
    """1-based dense ranking by (score desc, doc_id) within query_id,
    trimmed to k — the ordering contract every scorer here shares."""
    return hits.withColumn(
        "rank",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.col("score").desc(), F.col("doc_id")
            )
        )
        .cast("long"),
    ).filter(F.col("rank") <= k)


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


def _scored_hits(
    index: InvertedIndex,
    clause: dict[str, Any],
    k: int,
    tokens: DataFrame | None,
    docs: DataFrame | None,
    prune: bool,
) -> DataFrame:
    """(query_id=0, doc_id, score, rank) for one scored query clause."""
    if len(clause) != 1:
        raise ValueError(f"query clause must have exactly one key, got {sorted(clause)}")
    ((kind, body),) = clause.items()

    if kind == "match":
        fld, spec = _field_body(body, "match")
        text = _spec_value(spec, "match", "query", {"operator", "minimum_should_match"})
        opts = spec if isinstance(spec, dict) else {}
        operator = opts.get("operator", "or").lower()
        msm = opts.get("minimum_should_match")
        terms = _analyze(text)
        if not terms:
            raise ValueError("match query analyzed to zero terms")
        if operator == "and":
            msm = len(set(terms))
        elif operator != "or":
            raise ValueError(f"match operator must be and/or, got {operator!r}")
        if msm is not None and int(msm) > 1:
            return bool_should_topk(index, [(0, terms, int(msm))], k, prune=prune)
        return score_queries(index, [(0, terms)], k, prune=prune)

    if kind == "match_phrase":
        if tokens is None:
            raise ValueError("match_phrase needs the tokens DataFrame")
        from ..operators.phrase import phrase_topk

        fld, spec = _field_body(body, "match_phrase")
        text = _spec_value(spec, "match_phrase", "query", {"slop"})
        if isinstance(spec, dict) and spec.get("slop", 0) != 0:
            raise ValueError("match_phrase query: slop > 0 is not supported")
        return phrase_topk(index, tokens, [(0, _analyze(text))], k)

    if kind in _EXPANDING:
        fld, spec = _field_body(body, kind)
        val = _spec_value(spec, kind, "value", set())
        return _EXPANDING[kind](index, [(0, val)], k, prune=prune)

    if kind == "fuzzy":
        fld, spec = _field_body(body, "fuzzy")
        val = _spec_value(
            spec, "fuzzy", "value", {"fuzziness", "prefix_length", "max_expansions"}
        )
        opts = spec if isinstance(spec, dict) else {}
        return fuzzy_topk(
            index,
            [(0, val)],
            k,
            fuzziness=int(opts.get("fuzziness", MAX_EDITS)),
            prefix_length=int(opts.get("prefix_length", 0)),
            max_expansions=int(opts.get("max_expansions", DEFAULT_MAX_EXPANSIONS)),
            prune=prune,
        )

    if kind == "more_like_this":
        unknown = set(body) - {
            "like_text", "fields", "max_query_terms", "min_term_freq", "min_doc_freq",
        }
        if unknown:
            raise ValueError(f"more_like_this: unsupported option(s) {sorted(unknown)}")
        return mlt_topk(
            index,
            [(0, body["like_text"])],
            k,
            max_query_terms=int(body.get("max_query_terms", 25)),
            min_term_freq=int(body.get("min_term_freq", 2)),
            min_doc_freq=int(body.get("min_doc_freq", 5)),
            prune=prune,
        )

    if kind == "query_string":
        unknown = set(body) - {"query", "default_operator"}
        if unknown:
            raise ValueError(f"query_string: unsupported option(s) {sorted(unknown)}")
        from ..operators.query_string import query_string_topk

        return query_string_topk(
            index,
            tokens,
            body["query"],
            k,
            default_operator=str(body.get("default_operator", "or")).lower(),
            prune=prune,
        )

    if kind == "terms":
        # ES terms query: bool-OR over the listed terms; 0.90's
        # minimum_match knob maps to minimum_should_match
        body = dict(body)
        mm = int(body.pop("minimum_match", body.pop("minimum_should_match", 1)))
        fld, vals = _field_body(body, "terms")
        if not isinstance(vals, list) or not vals:
            raise ValueError("terms query requires a non-empty term list")
        terms = [str(v) for v in vals]
        if mm > 1:
            return bool_should_topk(index, [(0, terms, mm)], k, prune=prune)
        return score_queries(index, [(0, terms)], k, prune=prune)

    if kind == "span_near":
        unknown = set(body) - {"clauses", "slop", "in_order"}
        if unknown:
            raise ValueError(f"span_near query: unsupported key(s) {sorted(unknown)}")
        clauses = body.get("clauses")
        if not isinstance(clauses, list) or not clauses:
            raise ValueError("span_near requires a non-empty clauses list")
        if tokens is None:
            raise ValueError("span_near needs the tokens DataFrame")
        terms = []
        for sub in clauses:
            if set(sub) != {"span_term"}:
                raise ValueError(
                    f"span_near clauses must be span_term, got {sorted(sub)}"
                )
            _, val = _field_body(sub["span_term"], "span_term")
            terms.append(str(val if not isinstance(val, dict) else val["value"]))
        from ..operators.span import span_near_topk

        return span_near_topk(
            index,
            tokens,
            [(0, terms)],
            k,
            slop=int(body.get("slop", 0)),
            in_order=bool(body.get("in_order", False)),
        )

    if kind == "span_first":
        unknown = set(body) - {"match", "end"}
        if unknown:
            raise ValueError(f"span_first query: unsupported key(s) {sorted(unknown)}")
        if "end" not in body or "match" not in body:
            raise ValueError("span_first requires match and end")
        match = body["match"]
        if set(match) != {"span_term"}:
            raise ValueError("span_first match must be a span_term clause")
        if tokens is None:
            raise ValueError("span_first needs the tokens DataFrame")
        _, val = _field_body(match["span_term"], "span_term")
        term = str(val if not isinstance(val, dict) else val["value"])
        from ..operators.span import span_first_match

        matched = span_first_match(
            index, tokens, [(0, term)], end=int(body["end"])
        ).select("doc_id")
        scored = score_queries(
            index, [(0, [term])], index.n_docs, prune=prune, ranked=False
        )
        return _rank(
            scored.join(matched, "doc_id", "left_semi").select(
                "query_id", "doc_id", "score"
            ),
            k,
        )

    if kind == "match_all":
        unknown = set(body) - {"boost"}
        if unknown:
            raise ValueError(f"match_all query: unsupported key(s) {sorted(unknown)}")
        boost = round(_weight(body, "boost", 1.0), 6)
        return _rank(
            _visible_doc_ids(index).select(
                F.lit(0).cast("long").alias("query_id"),
                F.col("doc_id"),
                F.lit(boost).cast("double").alias("score"),
            ),
            k,
        )

    if kind == "term":
        fld, spec = _field_body(body, "term")
        val = str(_spec_value(spec, "term", "value", {"boost"}))
        boost = _weight(spec, "boost", 1.0) if isinstance(spec, dict) else 1.0
        if boost == 1.0:
            return score_queries(index, [(0, [val])], k, prune=prune)
        # boost rescales AFTER the 6-dp rounding the scorer applies, and
        # re-rounds — ties can move across the grid, so re-rank the full
        # match set instead of trusting the unscaled ranks
        scored = score_queries(
            index, [(0, [val])], index.n_docs, prune=prune, ranked=False
        )
        return _rank(
            scored.select(
                "query_id",
                "doc_id",
                round6_oracle(F.col("score") * boost).alias("score"),
            ),
            k,
        )

    if kind == "ids":
        unknown = set(body) - {"values", "type"}
        if unknown:
            raise ValueError(f"ids query: unsupported key(s) {sorted(unknown)}")
        vals = body.get("values")
        if not isinstance(vals, list) or not vals:
            raise ValueError("ids query requires a non-empty values list")
        return _rank(
            _visible_doc_ids(index)
            .filter(F.col("doc_id").isin([int(v) for v in vals]))
            .select(
                F.lit(0).cast("long").alias("query_id"),
                F.col("doc_id"),
                F.lit(1.0).cast("double").alias("score"),
            ),
            k,
        )

    if kind == "dis_max":
        unknown = set(body) - {"queries", "tie_breaker", "boost"}
        if unknown:
            raise ValueError(f"dis_max query: unsupported key(s) {sorted(unknown)}")
        subs = body.get("queries")
        if not isinstance(subs, list) or not subs:
            raise ValueError("dis_max requires a non-empty queries list")
        tie = _weight(body, "tie_breaker", 0.0, 1.0)
        boost = _weight(body, "boost", 1.0)
        parts = [
            _scored_hits(index, sub, index.n_docs, tokens, docs, prune).select(
                "doc_id", "score"
            )
            for sub in subs
        ]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        # per-doc dismax over the union of candidate rows (bounded by
        # Σ sub-query match counts, not the corpus)
        agg = u.groupBy("doc_id").agg(
            F.max("score").alias("best"), F.sum("score").alias("total")
        )
        combined = (
            F.col("best") + F.lit(tie) * (F.col("total") - F.col("best"))
        ) * F.lit(boost)
        return _rank(
            agg.select(
                F.lit(0).cast("long").alias("query_id"),
                F.col("doc_id"),
                round6_oracle(combined).alias("score"),
            ),
            k,
        )

    if kind == "boosting":
        unknown = set(body) - {"positive", "negative", "negative_boost"}
        if unknown:
            raise ValueError(f"boosting query: unsupported key(s) {sorted(unknown)}")
        if "positive" not in body or "negative" not in body:
            raise ValueError("boosting query requires positive and negative")
        nb = _weight(body, "negative_boost", 0.5, 1.0)
        pos = _scored_hits(
            index, body["positive"], index.n_docs, tokens, docs, prune
        )
        neg = (
            _scored_hits(index, body["negative"], index.n_docs, tokens, docs, prune)
            .select("doc_id")
            .distinct()
            .withColumn("_demote", F.lit(True))
        )
        demoted = pos.join(neg, "doc_id", "left").select(
            "query_id",
            "doc_id",
            round6_oracle(
                F.col("score")
                * F.when(F.col("_demote"), F.lit(nb)).otherwise(F.lit(1.0))
            ).alias("score"),
        )
        return _rank(demoted, k)

    if kind == "bool":
        unknown = set(body) - {"must", "should", "must_not", "minimum_should_match"}
        if unknown:
            raise ValueError(
                f"scored bool query supports must/should/must_not/"
                f"minimum_should_match, got {sorted(unknown)} "
                "(filter-context bool belongs in 'filtered')"
            )
        must = _as_clause_list(body.get("must"), "must")
        should = _as_clause_list(body.get("should"), "should")
        must_not = _as_clause_list(body.get("must_not"), "must_not")
        if not must and not should:
            raise ValueError("scored bool query needs at least one must or should clause")
        # fast path: the original all-term should-only form keeps the
        # in-scorer match counting (one postings pass, no per-clause jobs)
        if not must and not must_not and all(
            set(c) == {"term"} for c in should
        ):
            terms = []
            for sub in should:
                ((_, val),) = sub["term"].items()
                terms.append(str(val if not isinstance(val, dict) else val["value"]))
            m = int(body.get("minimum_should_match", 1))
            return bool_should_topk(index, [(0, terms, m)], k, prune=prune)
        # Lucene BooleanQuery, coord-free (ES ≥ 2 semantics): score =
        # Σ matched clause scores; every must clause gates candidacy;
        # minimum_should_match applies to should clauses (default 1
        # when the query is should-only, else 0)
        msm = int(
            body.get("minimum_should_match", 1 if (should and not must) else 0)
        )
        tagged = []
        for occur, clauses in (("must", must), ("should", should)):
            for sub in clauses:
                tagged.append(
                    _scored_hits(index, sub, index.n_docs, tokens, docs, prune)
                    .select(
                        "doc_id",
                        "score",
                        F.lit(occur == "must").alias("_is_must"),
                    )
                )
        u = tagged[0]
        for p in tagged[1:]:
            u = u.unionByName(p)
        agg = u.groupBy("doc_id").agg(
            F.round(F.sum("score"), 6).alias("score"),
            F.sum(F.when(F.col("_is_must"), 1).otherwise(0)).alias("_n_must"),
            F.sum(F.when(F.col("_is_must"), 0).otherwise(1)).alias("_n_should"),
        )
        hits = agg.filter(
            (F.col("_n_must") == len(must)) & (F.col("_n_should") >= msm)
        )
        for sub in must_not:
            hits = hits.join(
                _scored_hits(
                    index, sub, index.n_docs, tokens, docs, prune
                ).select("doc_id"),
                "doc_id",
                "left_anti",
            )
        return _rank(
            hits.select(
                F.lit(0).cast("long").alias("query_id"), "doc_id", "score"
            ),
            k,
        )

    if kind == "constant_score":
        # every filter-matched doc scores exactly the boost (ES
        # ConstantScoreQuery); ranks tie-break by doc_id
        unknown = set(body) - {"filter", "boost"}
        if unknown:
            raise ValueError(f"constant_score query: unsupported key(s) {sorted(unknown)}")
        if "filter" not in body:
            raise ValueError("constant_score query requires a filter")
        if docs is None:
            raise ValueError("constant_score needs the docs DataFrame")
        boost = round(_weight(body, "boost", 1.0), 6)
        return (
            docs.filter(lower_filter(body["filter"]))
            .select(
                F.lit(0).cast("long").alias("query_id"),
                F.col("doc_id"),
                F.lit(boost).cast("double").alias("score"),
            )
            .withColumn(
                "rank",
                F.row_number()
                .over(Window.partitionBy("query_id").orderBy(F.col("doc_id")))
                .cast("long"),
            )
            .filter(F.col("rank") <= k)
        )

    if kind == "filtered":
        unknown = set(body) - {"query", "filter"}
        if unknown:
            raise ValueError(f"filtered query: unsupported key(s) {sorted(unknown)}")
        if docs is None:
            raise ValueError("filtered query needs the docs DataFrame to evaluate the filter")
        inner = body.get("query", {"match_all": {}})
        pred = lower_filter(body["filter"])
        # ES filters the candidate set BEFORE ranking: score everything
        # (k = n_docs — the scorers compute all scores before the
        # group-limit anyway), intersect with the filter on docs, then
        # re-rank. At scale the filtered id set rides a broadcast-able
        # semi join (filter selectivity is the knob, same as ES).
        scored = _scored_hits(index, inner, index.n_docs, tokens, docs, prune)
        keep = docs.filter(pred).select(F.col("doc_id"))
        return (
            scored.join(keep, "doc_id", "left_semi")
            .withColumn(
                "rank",
                F.row_number()
                .over(
                    Window.partitionBy("query_id").orderBy(
                        F.col("score").desc(), F.col("doc_id")
                    )
                )
                .cast("long"),
            )
        )

    if kind == "common":
        # Lucene CommonTermsQuery (the stopword-free frequent-term
        # query) — semantics in operators/common_terms.py
        from ..operators.common_terms import common_terms_topk

        fld, spec = _field_body(body, "common")
        if not isinstance(spec, dict) or "query" not in spec:
            raise ValueError("common query requires a {field: {query: ...}} body")
        unknown = set(spec) - {
            "query", "cutoff_frequency", "low_freq_operator",
            "high_freq_operator", "minimum_should_match",
        }
        if unknown:
            raise ValueError(f"common query: unsupported option(s) {sorted(unknown)}")
        terms = _analyze(str(spec["query"]))
        if not terms:
            raise ValueError("common query analyzed to zero terms")
        msm = spec.get("minimum_should_match")
        if isinstance(msm, dict):
            unknown = set(msm) - {"low_freq"}
            if unknown:
                raise ValueError(
                    f"common minimum_should_match: unsupported key(s) {sorted(unknown)}"
                )
            msm = msm["low_freq"]
        return common_terms_topk(
            index,
            [(0, terms)],
            k,
            cutoff_frequency=float(spec.get("cutoff_frequency", 0.01)),
            low_freq_operator=spec.get("low_freq_operator", "or"),
            high_freq_operator=spec.get("high_freq_operator", "or"),
            minimum_should_match=int(msm) if msm is not None else None,
            corpus=tokens,  # scale path when available (None = postings path)
        )

    if kind == "function_score":
        # decay/boost functions over ANY inner scored query — the
        # inner query scores UNCAPPED (functions re-rank everything),
        # then operators.function_score.apply_functions does the
        # closed-form combine (see its module docstring)
        from ..operators.function_score import apply_functions

        unknown = set(body) - {"query", "functions", "score_mode", "boost_mode"}
        if unknown:
            raise ValueError(f"function_score query: unsupported key(s) {sorted(unknown)}")
        if "query" not in body or "functions" not in body:
            raise ValueError("function_score requires query and functions")
        if docs is None:
            raise ValueError("function_score needs the docs DataFrame for decay fields")
        inner = _scored_hits(
            index, body["query"], index.n_docs, tokens, docs, prune
        ).drop("rank")
        return apply_functions(
            inner,
            docs,
            body["functions"],
            k,
            boost_mode=body.get("boost_mode", "multiply"),
            score_mode=body.get("score_mode", "multiply"),
        )

    raise ValueError(
        f"unsupported search query type {kind!r} (supported: match, match_phrase, "
        "term, terms, match_all, ids, prefix, fuzzy, wildcard, regexp, "
        "more_like_this, query_string, bool, dis_max, boosting, "
        "span_near, span_first, constant_score, filtered, function_score, common)"
    )


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
    known = {
        "query", "size", "from", "highlight", "facets", "sort", "rescore",
        "search_after",
    }
    unknown = set(request) - known
    if unknown:
        raise ValueError(f"unsupported _search key(s) {sorted(unknown)}")
    if "query" not in request:
        raise ValueError("_search request requires a query clause")
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
        scored = _scored_hits(
            index, request["query"], index.n_docs, tokens, docs, prune
        ).drop("rank")
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
        if tokens is None:
            raise ValueError("rescore needs the tokens DataFrame")
        from ..operators.rescore import rescore_window

        unknown = set(resc) - {"window_size", "query"}
        if unknown:
            raise ValueError(f"rescore: unsupported key(s) {sorted(unknown)}")
        if "window_size" not in resc or "query" not in resc:
            raise ValueError("rescore requires window_size and query")
        rq = resc["query"]
        unknown = set(rq) - {"rescore_query", "query_weight", "rescore_query_weight"}
        if unknown:
            raise ValueError(f"rescore query: unsupported key(s) {sorted(unknown)}")
        if "rescore_query" not in rq:
            raise ValueError("rescore query requires rescore_query")
        inner = rq["rescore_query"]
        if len(inner) != 1 or next(iter(inner)) not in ("match", "match_phrase"):
            raise ValueError(
                "rescore_query must be a match or match_phrase clause "
                f"(got {sorted(inner)})"
            )
        ((rkind, rbody),) = inner.items()
        _, rspec = _field_body(rbody, rkind)
        if isinstance(rspec, dict):
            # validate BEFORE indexing: a dict body without "query" must
            # raise the parser's ValueError, not a bare KeyError (ADVICE r6)
            if set(rspec) - {"query"}:
                raise ValueError(
                    f"rescore {rkind}: unsupported option(s) "
                    f"{sorted(set(rspec) - {'query'})}"
                )
            if "query" not in rspec:
                raise ValueError(f"rescore {rkind}: missing required 'query'")
            rtext = rspec["query"]
        else:
            rtext = rspec
        rterms = _analyze(str(rtext))
        if not rterms:
            raise ValueError("rescore query analyzed to zero terms")
        window = int(resc["window_size"])
        if window < offset + size:
            raise ValueError(
                f"rescore window_size ({window}) must cover from+size ({offset + size})"
            )
        base = _scored_hits(
            index, request["query"], window, tokens, docs, prune
        ).drop("rank")
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
        if docs is None:
            raise ValueError("sort needs the docs DataFrame for field values")
        sort_cols, sort_fields = _sort_order(sort)
        matched = _scored_hits(
            index, request["query"], index.n_docs, tokens, docs, prune
        ).drop("rank")
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
        hits = _scored_hits(
            index, request["query"], offset + size, tokens, docs, prune
        ).filter((F.col("rank") > offset) & (F.col("rank") <= offset + size))
    hl = request.get("highlight")
    if hl is not None:
        if docs is None:
            raise ValueError("highlight needs the docs DataFrame")
        unknown = set(hl) - {"fragment_size", "pre_tags", "post_tags", "fields"}
        if unknown:
            raise ValueError(f"highlight: unsupported option(s) {sorted(unknown)}")
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
            elif isinstance(spec, dict):
                unknown = set(spec) - {"order"}
                if unknown:
                    raise ValueError(
                        f"sort field {fld!r}: unsupported option(s) {sorted(unknown)}"
                    )
                order = spec.get("order", "desc" if fld == "_score" else "asc")
            else:
                raise ValueError(f"sort field {fld!r}: bad spec {spec!r}")
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


def _highlight_terms(clause: dict[str, Any]) -> list[str]:
    """The literal terms a query contributes to highlighting (the
    expansion-based types would need their expanded term lists — ES's
    plain highlighter has the same rewrite dependence; unsupported
    here, raises)."""
    ((kind, body),) = clause.items()
    if kind == "match":
        _, spec = _field_body(body, "match")
        return _analyze(spec if isinstance(spec, str) else spec["query"])
    if kind == "match_phrase":
        _, spec = _field_body(body, "match_phrase")
        return _analyze(spec if isinstance(spec, str) else spec["query"])
    if kind == "bool":
        terms = []
        for sub in body.get("should", []):
            ((_, sbody),) = sub.items()
            ((_, val),) = sbody.items()
            terms.append(str(val))
        return terms
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
    out = None
    for name, spec in body.items():
        unknown = set(spec) - {"text", "term", "phrase"}
        if unknown:
            raise ValueError(f"suggester {name!r}: unsupported key(s) {sorted(unknown)}")
        if "text" not in spec or ("term" in spec) == ("phrase" in spec):
            raise ValueError(
                f"suggester {name!r} requires text and exactly one of term/phrase"
            )
        if "phrase" in spec:
            from ..operators.phrase_suggest import phrase_suggest

            if tokens is None:
                raise ValueError(
                    f"suggester {name!r}: phrase suggester needs the tokens DataFrame"
                )
            popts = dict(spec["phrase"])
            popts.pop("field", None)
            allowed = {"size", "candidates_per_token", "max_edits",
                       "prefix_length", "alpha"}
            unknown = set(popts) - allowed
            if unknown:
                raise ValueError(
                    f"suggester {name!r}: unsupported option(s) {sorted(unknown)}"
                )
            part = phrase_suggest(index, tokens, str(spec["text"]), **popts).select(
                F.lit(name).alias("name"),
                F.lit(str(spec["text"])).alias("input"),
                "suggestion",
                "score",
                F.lit(None).cast("long").alias("freq"),
                "rank",
            )
            out = part if out is None else out.unionByName(part)
            continue
        opts = dict(spec["term"])
        opts.pop("field", None)  # single indexed field; any value names it
        allowed = {
            "size", "suggest_mode", "sort", "max_edits",
            "prefix_length", "min_word_length", "min_doc_freq",
        }
        unknown = set(opts) - allowed
        if unknown:
            raise ValueError(f"suggester {name!r}: unsupported option(s) {sorted(unknown)}")
        toks = _analyze(str(spec["text"]))
        if not toks:
            raise ValueError(f"suggester {name!r}: text analyzed to zero tokens")
        inputs = list(enumerate(toks))
        sugg = term_suggest(index, inputs, **opts)
        labels = small_df(spark, 
            [(qid, name, tok) for qid, tok in inputs],
            "query_id long, name string, input string",
        )
        part = sugg.join(F.broadcast(labels), "query_id").select(
            "name", "input", "suggestion", "score", "freq", "rank"
        )
        out = part if out is None else out.unionByName(part)
    return out


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
    body = request.get("query")
    if body is None:
        raise ValueError("_count request requires a query clause")
    unknown = set(request) - {"query"}
    if unknown:
        raise ValueError(f"_count: unsupported key(s) {sorted(unknown)}")
    hits = _scored_hits(index, body, index.n_docs, tokens, docs, False)
    return hits.agg(F.count("*").cast("long").alias("count"))
