"""_search request replay: every query type must dispatch to its
operator and return identical results; pagination, filtered
re-ranking, and highlight composition verified by hand."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_ws
from elasticsearch_approx_plugin_spark.operators.bm25 import (
    bool_should_topk,
    score_queries,
)
from elasticsearch_approx_plugin_spark.operators.postings import build_index
from elasticsearch_approx_plugin_spark.plans.search import search_topk


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "table scan beats hash join"),
        (1, "the tablet is not a table"),
        (2, "slow row window flow"),
        (3, "table join table join"),
        (4, "hash hash hash"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def tokens(docs):
    return docs.select("doc_id", tokenize_ws("text").alias("tokens"))


@pytest.fixture(scope="module")
def index(tokens):
    return build_index(tokens, range_bits=2)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_match_or_equals_score_queries(index):
    got = _rows(search_topk(index, {"query": {"match": {"text": "table join"}}}))
    want = _rows(
        score_queries(index, [(0, ["table", "join"])], 10).drop("query_id")
    )
    assert got == want and got


def test_match_and_and_msm(index):
    got = _rows(
        search_topk(
            index,
            {"query": {"match": {"text": {"query": "table join", "operator": "and"}}}},
        )
    )
    want = _rows(
        bool_should_topk(index, [(0, ["table", "join"], 2)], 10).drop("query_id")
    )
    assert got == want and got
    # msm spelled explicitly gives the same
    got2 = _rows(
        search_topk(
            index,
            {"query": {"match": {"text": {"query": "table join",
                                           "minimum_should_match": 2}}}},
        )
    )
    assert got2 == want


def test_expansion_types_dispatch(index, tokens):
    for clause in (
        {"prefix": {"text": "ta"}},
        {"fuzzy": {"text": "tabel"}},
        {"wildcard": {"text": "ta*"}},
        {"regexp": {"text": "ta.le"}},
        {"match_phrase": {"text": "table join"}},
    ):
        out = search_topk(index, {"query": clause}, tokens=tokens)
        assert out.columns == ["doc_id", "score", "rank"]
        assert out.count() > 0, clause


def test_terms_query(index):
    # terms = bool-OR of the listed terms; minimum_match maps to msm
    got = _rows(search_topk(index, {"query": {"terms": {"text": ["table", "join"]}}}))
    want = _rows(score_queries(index, [(0, ["table", "join"])], 10).drop("query_id"))
    assert got == want and got
    gated = _rows(
        search_topk(
            index,
            {"query": {"terms": {"text": ["table", "join"], "minimum_match": 2}}},
        )
    )
    want2 = _rows(bool_should_topk(index, [(0, ["table", "join"], 2)], 10).drop("query_id"))
    assert gated == want2
    with pytest.raises(ValueError):
        search_topk(index, {"query": {"terms": {"text": []}}})


def test_pagination(index):
    full = _rows(search_topk(index, {"query": {"match": {"text": "table join"}}}))
    page = _rows(
        search_topk(
            index, {"query": {"match": {"text": "table join"}}, "from": 1, "size": 2}
        )
    )
    ranks = sorted(r[2] for r in page)
    assert ranks == [2, 3]
    assert set(page) <= set(full)


def test_filtered_reranks_after_filter(index, docs):
    out = _rows(
        search_topk(
            index,
            {
                "query": {
                    "filtered": {
                        "query": {"match": {"text": "table join"}},
                        "filter": {"range": {"doc_id": {"gte": 2}}},
                    }
                }
            },
            docs=docs,
        )
    )
    assert [r[0] for r in sorted(out, key=lambda r: r[2])] == [3]
    assert out[0][2] == 1  # re-ranked from 1 after the filter


def test_query_string_dispatch(index, tokens):
    from elasticsearch_approx_plugin_spark.operators.query_string import (
        query_string_topk,
    )

    req = {"query": {"query_string": {"query": '+hash -"table scan"'}}}
    got = _rows(search_topk(index, req, tokens=tokens))
    want = _rows(
        query_string_topk(index, tokens, '+hash -"table scan"', 10).drop("query_id")
    )
    assert got == want and got


def test_constant_score(index, docs):
    out = _rows(
        search_topk(
            index,
            {
                "query": {
                    "constant_score": {
                        "filter": {"range": {"doc_id": {"gte": 2}}},
                        "boost": 1.5,
                    }
                },
                "size": 2,
            },
            docs=docs,
        )
    )
    # every match scores the boost; ranks tie-break by doc_id; size caps
    assert out == [(2, 1.5, 1), (3, 1.5, 2)]
    with pytest.raises(ValueError):
        search_topk(index, {"query": {"constant_score": {"boost": 2.0}}}, docs=docs)


def test_highlight_rides_hits(index, docs):
    out = {
        r["doc_id"]: r["snippet"]
        for r in search_topk(
            index,
            {
                "query": {"match": {"text": "table join"}},
                "highlight": {"fragment_size": 60},
            },
            docs=docs,
        ).collect()
    }
    assert out[0] == "<em>table</em> scan beats hash <em>join</em>"
    assert out[3] == "<em>table</em> <em>join</em> <em>table</em> <em>join</em>"


def test_strictness(index, docs, tokens):
    with pytest.raises(ValueError):
        search_topk(index, {"query": {"match": {"text": "x"}}, "explain": True})
    # leaf-query options the engine does not implement raise instead of
    # being dropped, and an object body without its value is a
    # ValueError, not a KeyError
    for query in (
        {"prefix": {"text": {"value": "ta", "boost": 2.0}}},
        {"wildcard": {"text": {"value": "ta*", "rewrite": "top_terms_10"}}},
        {"regexp": {"text": {"value": "ta.*", "flags": "ALL"}}},
        {"prefix": {"text": {"prefix": "ta"}}},
        {"wildcard": {"text": {}}},
        {"fuzzy": {"text": {"fuzziness": 1}}},
        {"match": {"text": {"operator": "and"}}},
        {"term": {"text": {"boost": 2.0}}},
        {"match_phrase": {"text": {"query": "hash join", "slop": 2}}},
        {"match_phrase": {"text": {"slop": 0}}},
        {"more_like_this": {"min_term_freq": 1}},
        {"query_string": {"default_operator": "and"}},
        {"span_first": {"match": {"span_term": {"text": {}}}, "end": 1}},
        {"span_near": {"clauses": [{"span_term": {"text": {"value": "hash", "boost": 2.0}}}]}},
        {"span_near": {"clauses": [{"span_term": {"text": {"value": "hash", "bogus": 1}}}]}},
        {"terms": {"text": ["hash"], "minimum_match": 1, "minimum_should_match": 2}},
    ):
        with pytest.raises(ValueError):
            search_topk(index, {"query": query}, tokens=tokens)
    # weights are finite and >= 0 (a negative one would reach
    # round6_oracle, whose half-up contract holds only for values >= 0);
    # tie_breaker and negative_boost stay in [0, 1], as in ES
    term, other = {"term": {"text": "hash"}}, {"term": {"text": "join"}}
    for query in (
        {"match_all": {"boost": -1.0}},
        {"match_all": {"boost": float("nan")}},
        {"term": {"text": {"value": "hash", "boost": float("inf")}}},
        {"term": {"text": {"value": "hash", "boost": -2.0}}},
        {"dis_max": {"queries": [term], "tie_breaker": 1.5}},
        {"dis_max": {"queries": [term], "tie_breaker": -0.1}},
        {"dis_max": {"queries": [term], "boost": -0.5}},
        {"boosting": {"positive": term, "negative": other, "negative_boost": -0.1}},
        {"boosting": {"positive": term, "negative": other, "negative_boost": 2.0}},
        {"constant_score": {"filter": {"range": {"doc_id": {"gte": 2}}}, "boost": -1.0}},
    ):
        with pytest.raises(ValueError, match="must be a finite number"):
            search_topk(index, {"query": query}, tokens=tokens, docs=docs)
    phrase = {"match_phrase": {"text": {"query": "hash join", "slop": 0}}}
    assert _rows(search_topk(index, {"query": phrase}, tokens=tokens)) == _rows(
        search_topk(index, {"query": {"match_phrase": {"text": "hash join"}}}, tokens=tokens)
    )
    with pytest.raises(ValueError):
        search_topk(index, {"query": {"span_near": {"clauses": []}}})
    with pytest.raises(ValueError):
        search_topk(index, {"size": 10})  # no query
    with pytest.raises(ValueError):
        search_topk(index, {"query": {"match_phrase": {"text": "a b"}}})  # no tokens
    with pytest.raises(ValueError):
        search_topk(
            index,
            {"query": {"prefix": {"text": "ta"}}, "highlight": {}},
            docs=docs,
        )  # highlight needs literal terms


# -- round-6 combinators: term/match_all/ids/dis_max/boosting/bool/sort ----


def _score_map(index, terms):
    """doc_id -> 6-dp BM25 score for one clause's term set."""
    return {
        r["doc_id"]: r["score"]
        for r in score_queries(index, [(0, list(terms))], index.n_docs).collect()
    }


def test_term_query(index):
    got = _rows(search_topk(index, {"query": {"term": {"text": "hash"}}}))
    want = _rows(
        score_queries(index, [(0, ["hash"])], 10).drop("query_id")
        .select("doc_id", "score", "rank")
    )
    assert got == want


def test_term_boost_rescales_rounded(index):
    base = _score_map(index, ["hash"])
    got = search_topk(
        index, {"query": {"term": {"text": {"value": "hash", "boost": 3.0}}}}
    ).collect()
    assert got  # matches exist
    for r in got:
        assert r["score"] == pytest.approx(base[r["doc_id"]] * 3.0, abs=1e-6)


def test_match_all_and_ids(index):
    hits = search_topk(index, {"query": {"match_all": {"boost": 2.5}}}).collect()
    assert [(r["doc_id"], r["score"], r["rank"]) for r in hits] == [
        (i, 2.5, i + 1) for i in range(5)
    ]
    hits = _rows(search_topk(index, {"query": {"ids": {"values": [1, 3, 99]}}}))
    assert hits == [(1, 1.0, 1), (3, 1.0, 2)]


def test_dis_max_combines_rounded_subscores(index):
    s_table, s_hash = _score_map(index, ["table"]), _score_map(index, ["hash"])
    got = search_topk(
        index,
        {
            "query": {
                "dis_max": {
                    "queries": [
                        {"term": {"text": "table"}},
                        {"term": {"text": "hash"}},
                    ],
                    "tie_breaker": 0.5,
                }
            }
        },
    ).collect()
    assert {r["doc_id"] for r in got} == set(s_table) | set(s_hash)
    for r in got:
        subs = [m[r["doc_id"]] for m in (s_table, s_hash) if r["doc_id"] in m]
        best, tot = max(subs), sum(subs)
        assert r["score"] == pytest.approx(best + 0.5 * (tot - best), abs=1e-6)


def test_boosting_demotes_negative_matches(index):
    pos = _score_map(index, ["table", "join"])
    neg_docs = set(_score_map(index, ["hash"]))
    got = search_topk(
        index,
        {
            "query": {
                "boosting": {
                    "positive": {"match": {"text": "table join"}},
                    "negative": {"term": {"text": "hash"}},
                    "negative_boost": 0.5,
                }
            }
        },
    ).collect()
    assert {r["doc_id"] for r in got} == set(pos)  # demoted, never dropped
    for r in got:
        factor = 0.5 if r["doc_id"] in neg_docs else 1.0
        assert r["score"] == pytest.approx(pos[r["doc_id"]] * factor, abs=1e-6)


def test_bool_general_must_should_must_not(index):
    s_table = _score_map(index, ["table"])
    s_join = _score_map(index, ["join"])
    s_hs = _score_map(index, ["hash", "scan"])
    got = search_topk(
        index,
        {
            "query": {
                "bool": {
                    "must": [{"term": {"text": "table"}}],
                    "should": [
                        {"term": {"text": "join"}},
                        {"match": {"text": "hash scan"}},
                    ],
                    "must_not": [{"term": {"text": "tablet"}}],
                }
            }
        },
    ).collect()
    # docs with 'table': 0, 1, 3; doc 1 contains 'tablet' -> excluded
    assert {r["doc_id"] for r in got} == {0, 3}
    for r in got:
        d = r["doc_id"]
        want = s_table[d] + s_join.get(d, 0.0) + s_hs.get(d, 0.0)
        assert r["score"] == pytest.approx(want, abs=1e-6)


def test_bool_msm_counts_clauses(index):
    # should-only with a non-term clause -> general path; msm=2 keeps
    # only docs matching BOTH clauses
    got = search_topk(
        index,
        {
            "query": {
                "bool": {
                    "should": [
                        {"match": {"text": "table"}},
                        {"match": {"text": "slow row"}},
                    ],
                    "minimum_should_match": 2,
                }
            }
        },
    ).collect()
    assert got == []  # no doc has 'table' AND ('slow' or 'row')
    got = search_topk(
        index,
        {
            "query": {
                "bool": {
                    "should": [
                        {"match": {"text": "table"}},
                        {"match": {"text": "hash"}},
                    ],
                    "minimum_should_match": 2,
                }
            }
        },
    ).collect()
    assert {r["doc_id"] for r in got} == {0}  # only doc 0 has both


def test_bool_general_matches_fast_path(index):
    # the general path (forced via a no-op must_not) must agree with the
    # in-scorer fast path on a should-only all-term query
    fast = _rows(
        search_topk(
            index,
            {"query": {"bool": {"should": [
                {"term": {"text": "join"}}, {"term": {"text": "hash"}},
            ]}}},
        )
    )
    general = _rows(
        search_topk(
            index,
            {"query": {"bool": {
                "should": [
                    {"term": {"text": "join"}}, {"term": {"text": "hash"}},
                ],
                "must_not": [{"term": {"text": "zzznope"}}],
            }}},
        )
    )
    assert fast == general


def test_bool_boosted_term_keeps_its_boost(index):
    # a boosted term leaves the should-only fast path and scores as the
    # same boosted term query alone
    boosted = {"term": {"text": {"value": "hash", "boost": 3.0}}}
    alone = _rows(search_topk(index, {"query": boosted}))
    in_bool = _rows(search_topk(index, {"query": {"bool": {"should": [boosted]}}}))
    assert in_bool == alone and alone
    for term in (
        {"term": {"text": {"value": "hash", "boost": -1.0}}},
        {"term": {"text": {"value": "hash", "bogus": 1}}},
    ):
        with pytest.raises(ValueError):
            search_topk(index, {"query": {"bool": {"should": [term]}}})


def _snippets(index, docs, query):
    req = {"query": query, "highlight": {"fragment_size": 60}}
    return {r["doc_id"]: r["snippet"] for r in search_topk(index, req, docs=docs).collect()}


def test_highlight_bool_clauses(index, docs):
    # a single should clause needs no list
    one = _snippets(index, docs, {"bool": {"should": {"term": {"text": "join"}}}})
    assert one[3] == "<em>join</em> table <em>join</em>"
    # a term in object form highlights its value
    obj = _snippets(index, docs, {"bool": {"should": [
        {"term": {"text": {"value": "join"}}}, {"term": {"text": "slow"}},
    ]}})
    assert "<em>join</em>" in obj[0] and obj[2].startswith("<em>slow</em>")
    # a match clause highlights its analyzed terms
    match = _snippets(index, docs, {"bool": {"should": [{"match": {"text": "hash scan"}}]}})
    assert match[4] == "<em>hash</em> hash <em>hash</em>"
    assert match[0] == "<em>scan</em> beats <em>hash</em> join"


def test_sort_reranks_full_match_set(index, docs):
    got = search_topk(
        index,
        {"query": {"match": {"text": "table"}}, "sort": [{"text": "desc"}], "size": 3},
        docs=docs,
    ).collect()
    # docs with 'table': 0, 1, 3 -- ordered by text desc
    texts = {r["doc_id"]: r["text"] for r in docs.collect()}
    want_order = sorted([0, 1, 3], key=lambda d: texts[d], reverse=True)
    assert [r["doc_id"] for r in got] == want_order
    assert [r["rank"] for r in got] == [1, 2, 3]
    assert got[0]["text"] == texts[want_order[0]]  # sort field rides the hit


def test_sort_strictness(index, docs):
    with pytest.raises(ValueError):  # sort needs docs
        search_topk(index, {"query": {"match": {"text": "x"}}, "sort": ["text"]})
    with pytest.raises(ValueError):  # reserved hit column
        search_topk(
            index,
            {"query": {"match": {"text": "x"}}, "sort": [{"doc_id": "asc"}]},
            docs=docs,
        )
    with pytest.raises(ValueError):  # bad order
        search_topk(
            index,
            {"query": {"match": {"text": "x"}}, "sort": [{"text": "sideways"}]},
            docs=docs,
        )


def test_combinator_strictness(index):
    with pytest.raises(ValueError):  # dis_max needs queries
        search_topk(index, {"query": {"dis_max": {"tie_breaker": 0.3}}})
    with pytest.raises(ValueError):  # boosting needs negative
        search_topk(
            index,
            {"query": {"boosting": {"positive": {"term": {"text": "a"}}}}},
        )
    with pytest.raises(ValueError):  # bool needs a positive clause
        search_topk(
            index,
            {"query": {"bool": {"must_not": [{"term": {"text": "a"}}]}}},
        )
    with pytest.raises(ValueError):  # ids needs values
        search_topk(index, {"query": {"ids": {"values": []}}})


def test_function_score_query_type(index, tokens, docs):
    from elasticsearch_approx_plugin_spark.operators.function_score import (
        function_score_topk,
    )

    docs_meta = docs.withColumn("size", F.length("text").cast("double"))
    req = {
        "query": {
            "function_score": {
                "query": {"match": {"text": "table join"}},
                "functions": [
                    {"gauss": {"field": "size", "origin": 20.0, "scale": 10.0}}
                ],
            }
        }
    }
    got = _rows(search_topk(index, req, tokens=tokens, docs=docs_meta))
    want = _rows(
        function_score_topk(
            index, docs_meta, [(0, ["table", "join"])],
            [{"gauss": {"field": "size", "origin": 20.0, "scale": 10.0}}], k=10,
        ).drop("query_id")
    )
    assert got == want and got
    with pytest.raises(ValueError):  # functions required
        search_topk(
            index,
            {"query": {"function_score": {"query": {"match": {"text": "t"}}}}},
            docs=docs_meta,
        )


def test_rescore_block(index, tokens, docs):
    from elasticsearch_approx_plugin_spark.operators.rescore import rescore_topk

    req = {
        "query": {"match": {"text": "table join"}},
        "rescore": {
            "window_size": 5,
            "query": {
                "rescore_query": {"match_phrase": {"text": "table join"}},
                "rescore_query_weight": 3.0,
            },
        },
        "size": 3,
    }
    got = _rows(search_topk(index, req, tokens=tokens, docs=docs))
    want = _rows(
        rescore_topk(
            index, tokens, [(0, ["table", "join"])], {0: ["table", "join"]},
            k=3, window_size=5, rescore_query_weight=3.0,
            rescore_type="match_phrase",
        ).drop("query_id")
    )
    assert got == want and got
    with pytest.raises(ValueError):  # rescore + sort
        search_topk(
            index, {**req, "sort": [{"doc_id": "asc"}]}, tokens=tokens, docs=docs
        )
    with pytest.raises(ValueError):  # window must cover from+size
        bad = dict(req)
        bad["rescore"] = {**req["rescore"], "window_size": 2}
        search_topk(index, bad, tokens=tokens, docs=docs)
    with pytest.raises(ValueError):  # only match/match_phrase rescore
        bad = dict(req)
        bad["rescore"] = {
            "window_size": 5,
            "query": {"rescore_query": {"term": {"text": "table"}}},
        }
        search_topk(index, bad, tokens=tokens, docs=docs)


def test_suggest_block(index):
    from elasticsearch_approx_plugin_spark.operators.suggest import term_suggest
    from elasticsearch_approx_plugin_spark.plans.search import suggest_block

    req = {
        "suggest": {
            "fix": {
                "text": "tabel windoe",
                "term": {"field": "text", "size": 2},
            }
        }
    }
    got = {
        (r["name"], r["input"], r["suggestion"], r["rank"])
        for r in suggest_block(index, req).collect()
    }
    want = {
        ("fix", ["tabel", "windoe"][r["query_id"]], r["suggestion"], r["rank"])
        for r in term_suggest(index, [(0, "tabel"), (1, "windoe")], size=2).collect()
    }
    assert got == want and got
    with pytest.raises(ValueError):  # unknown option
        suggest_block(index, {"suggest": {"s": {"text": "x", "term": {"bogus": 1}}}})
    with pytest.raises(ValueError):  # missing text
        suggest_block(index, {"suggest": {"s": {"term": {}}}})


def test_count_hits(index, tokens, docs):
    from elasticsearch_approx_plugin_spark.plans.search import count_hits, search_topk

    got = count_hits(
        index, {"query": {"match": {"text": "table join"}}}
    ).collect()[0]["count"]
    want = search_topk(
        index, {"query": {"match": {"text": "table join"}}, "size": 100}
    ).count()
    assert got == want and got > 0
    # every-type dispatch: a filtered query counts too
    got_f = count_hits(
        index,
        {"query": {"filtered": {"query": {"match": {"text": "table"}},
                                "filter": {"term": {"doc_id": 3}}}}},
        docs=docs.withColumn("doc_id", F.col("doc_id")),
    ).collect()[0]["count"]
    assert got_f == 1
    with pytest.raises(ValueError):
        count_hits(index, {"query": {"match": {"text": "x"}}, "size": 5})
    with pytest.raises(ValueError):
        count_hits(index, {})
