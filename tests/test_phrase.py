"""Phrase queries: candidates from the non-positional inverted index,
row-local adjacency verification with positional (overlapping)
occurrence counting; phrase-filtered BM25 top-k must equal the term
scorers' BM25 restricted to the phrase match set."""

import pytest
from pyspark.sql import functions as F

from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_ws
from elasticsearch_approx_plugin_spark.operators.bm25 import score_queries
from elasticsearch_approx_plugin_spark.operators.phrase import phrase_match, phrase_topk
from elasticsearch_approx_plugin_spark.operators.postings import build_index


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "the quick brown fox jumps"),
        (1, "quick brown shoes and a quick brown hat"),
        (2, "brown quick inverted order here"),
        (3, "table table table stacked"),
        (4, "the quick red fox"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.select("doc_id", tokenize_ws("text").alias("tokens"))


@pytest.fixture(scope="module")
def index(corpus):
    return build_index(corpus, range_bits=2)


def test_phrase_match_adjacency_and_overlap(index, corpus):
    got = {
        (r["query_id"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_match(
            index,
            corpus,
            [(0, ["quick", "brown"]), (1, ["table", "table"]), (2, ["quick", "red", "fox"])],
        ).collect()
    }
    # doc 2 contains both terms but never adjacent -> absent
    assert got == {
        (0, 0): 1,
        (0, 1): 2,  # two occurrences in one doc
        (1, 3): 2,  # 'table table table' -> OVERLAPPING count = 2
        (2, 4): 1,
    }


def test_phrase_match_unknown_term_and_validation(index, corpus):
    assert phrase_match(index, corpus, [(0, ["quick", "zzz"])]).count() == 0
    with pytest.raises(ValueError):
        phrase_match(index, corpus, [(0, [])])
    with pytest.raises(ValueError):
        phrase_topk(index, corpus, [(0, ["quick"])], k=0)


def test_phrase_match_partitioning_invariant(spark, index, corpus):
    a = sorted(
        tuple(r) for r in phrase_match(index, corpus, [(0, ["quick", "brown"])]).collect()
    )
    idx7 = build_index(corpus.repartition(7), range_bits=2)
    b = sorted(
        tuple(r)
        for r in phrase_match(idx7, corpus.repartition(3), [(0, ["quick", "brown"])]).collect()
    )
    assert a == b and len(a) == 2


def test_phrase_topk_equals_bm25_on_match_set(index, corpus):
    """phrase_topk must be score_queries(phrase terms) re-ranked over
    the phrase-matching docs — identical 6-dp scores."""
    phrase = ["quick", "brown"]
    topk = {
        r["doc_id"]: (r["score"], r["rank"])
        for r in phrase_topk(index, corpus, [(7, phrase)], k=10).collect()
    }
    match_ids = {
        r["doc_id"] for r in phrase_match(index, corpus, [(7, phrase)]).collect()
    }
    full = {
        r["doc_id"]: r["score"]
        for r in score_queries(index, [(7, phrase)], k=100).collect()
    }
    assert set(topk) == match_ids
    for did, (score, _) in topk.items():
        assert score == full[did]
    ranks = sorted(rank for _, rank in topk.values())
    assert ranks == list(range(1, len(topk) + 1))


def test_phrase_match_respects_tombstones(spark, corpus, tmp_path):
    from elasticsearch_approx_plugin_spark.operators.postings import (
        delete_from_index,
        read_index,
        write_index,
    )

    p = str(tmp_path / "phrase_idx")
    write_index(build_index(corpus, range_bits=2), p, n_buckets=2)
    delete_from_index(spark, p, [1])
    idx = read_index(spark, p)
    got = {r["doc_id"] for r in phrase_match(idx, corpus, [(0, ["quick", "brown"])]).collect()}
    assert got == {0}  # doc 1 tombstoned -> excluded despite matching


def test_phrase_persisted_index_prunes_buckets(spark, corpus, tmp_path):
    from elasticsearch_approx_plugin_spark.operators.phrase import _term_doc_pairs
    from elasticsearch_approx_plugin_spark.operators.postings import (
        read_index,
        write_index,
    )

    p = str(tmp_path / "phrase_idx_pruned")
    write_index(build_index(corpus, range_bits=2), p, n_buckets=8)
    idx = read_index(spark, p)
    pairs = _term_doc_pairs(idx, ["quick", "brown"])
    plan = pairs._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert "PartitionFilters: [bucket" in plan  # whole directories pruned
    got = sorted(tuple(r) for r in pairs.collect())
    exp = sorted(
        (t, d)
        for d, toks in [(r["doc_id"], r["tokens"]) for r in corpus.collect()]
        for t in set(toks)
        if t in ("quick", "brown")
    )
    assert got == exp


# -- prefix queries -----------------------------------------------------------


def test_prefix_expand_cap_and_order(index):
    from elasticsearch_approx_plugin_spark.operators.prefix import prefix_expand

    # vocabulary: the, quick, brown, fox, jumps, shoes, and, a, hat,
    # inverted, order, here, table, stacked, red
    got = dict(prefix_expand(index, [(0, "t"), (1, "s"), (2, "zz")], max_expansions=2))
    assert got[0] == ["table", "the"]  # term (dictionary) order
    assert got[1] == ["shoes", "stacked"]
    assert got[2] == []
    import pytest as _pytest

    with _pytest.raises(ValueError):
        prefix_expand(index, [(0, "t")], max_expansions=0)
    with _pytest.raises(ValueError):
        prefix_expand(index, [(0, "")])


def test_prefix_topk_equals_expanded_score_queries(index):
    from elasticsearch_approx_plugin_spark.operators.prefix import (
        prefix_expand,
        prefix_topk,
    )

    got = sorted(tuple(r) for r in prefix_topk(index, [(0, "qu"), (1, "zz")], k=5).collect())
    expanded = [(qid, ts) for qid, ts in prefix_expand(index, [(0, "qu")]) if ts]
    exp = sorted(tuple(r) for r in score_queries(index, expanded, 5).collect())
    assert got == exp and len(got) > 0  # zero-match prefix contributes nothing


def test_prefix_topk_all_zero_match(index):
    from elasticsearch_approx_plugin_spark.operators.prefix import prefix_topk

    df = prefix_topk(index, [(0, "zz"), (1, "xx")], k=5)
    assert df.count() == 0
    assert df.columns == ["query_id", "doc_id", "score", "rank"]


# --- match_phrase_prefix ----------------------------------------------------


def test_phrase_prefix_basic_and_single_prefix(index, corpus):
    from elasticsearch_approx_plugin_spark.operators.phrase import phrase_prefix_match

    got = {
        (r["query_id"], r["doc_id"]): r["n_occurrences"]
        for r in phrase_prefix_match(
            index,
            corpus,
            [(0, ["quick", "br"]), (1, ["qu"]), (2, ["the", "qu"])],
        ).collect()
    }
    assert got == {
        (0, 0): 1,
        (0, 1): 2,            # 'quick brown' twice in doc 1
        (1, 0): 1, (1, 1): 2, (1, 2): 1, (1, 4): 1,  # prefix-only query
        (2, 0): 1, (2, 4): 1,  # 'the quick'
    }


def test_phrase_prefix_cap_binds(index, corpus):
    from elasticsearch_approx_plugin_spark.operators.phrase import phrase_prefix_match

    # expansion of 's': ['shoes', 'stacked'] in term order; cap=1 keeps
    # only 'shoes', so doc 3 ('stacked') must NOT match under the cap
    capped = {
        r["doc_id"]
        for r in phrase_prefix_match(index, corpus, [(0, ["s"])], max_expansions=1).collect()
    }
    full = {
        r["doc_id"]
        for r in phrase_prefix_match(index, corpus, [(0, ["s"])]).collect()
    }
    assert capped == {1} and full == {1, 3}


def test_phrase_prefix_unknown_and_validation(index, corpus):
    from elasticsearch_approx_plugin_spark.operators.phrase import phrase_prefix_match

    assert phrase_prefix_match(index, corpus, [(0, ["quick", "zz"])]).count() == 0
    empty = phrase_prefix_match(index, corpus, [(0, ["zz"])])
    assert empty.count() == 0
    assert empty.columns == ["query_id", "doc_id", "n_occurrences"]
    with pytest.raises(ValueError):
        phrase_prefix_match(index, corpus, [(0, [])])


def test_phrase_prefix_partitioning_invariant(spark, index, corpus):
    from elasticsearch_approx_plugin_spark.operators.phrase import phrase_prefix_match

    qs = [(0, ["quick", "br"]), (1, ["s"])]
    a = sorted(map(tuple, phrase_prefix_match(index, corpus, qs).collect()))
    b = sorted(
        map(tuple, phrase_prefix_match(index, corpus.repartition(7), qs).collect())
    )
    assert a == b and a


def test_query_tables_follow_term_order(index, corpus, monkeypatch):
    """The phrase and phrase-prefix query tables list each phrase's
    distinct terms in first-occurrence order, so their literals (and
    the plan text) do not depend on the process's string-hash seed."""
    from elasticsearch_approx_plugin_spark.operators import phrase

    seen = []

    class Captured(Exception):
        pass

    def capture(spark, rows, schema):
        seen.append(rows)
        raise Captured

    monkeypatch.setattr(phrase, "small_df", capture)
    words = ["table", "quick", "table", "brown", "fox", "quick", "the"]
    with pytest.raises(Captured):
        phrase_match(index, corpus, [(0, words)])
    assert [r[1] for r in seen[0]] == ["table", "quick", "brown", "fox", "the"]
    with pytest.raises(Captured):
        phrase.phrase_prefix_match(index, corpus, [(0, words + ["qu"])])
    complete = [r[1] for r in seen[1] if r[2] == 1]
    assert complete == ["table", "quick", "brown", "fox", "the"]
