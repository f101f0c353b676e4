"""Phrase queries over the inverted index + token corpus.

The reference plugin has no phrase support (ES 0.90 ``match_phrase``
lives in Lucene's positional postings, outside the plugin's facet
SPIs); this module adds the fulltext-index capability Spark-first
WITHOUT positional payloads: candidates come from the existing
non-positional index (docs containing ALL phrase terms — a postings
intersection, tiny for selective phrases), and adjacency is verified
row-locally on the candidate docs' token arrays. This trades index
bytes (no position streams stored or merged) for a candidate-bounded
verify join — the "conjunction, then re-check" design — which is the
right default when phrase traffic is a small fraction of query load.
A positional-payload index is the other operating point; its encode /
merge machinery would reuse the existing varint cells with an
interleaved position stream per (term, doc).

100 TB design notes:
- candidate generation reads ONLY the phrase terms' postings
  (``term IN`` pushdown + bucket partition pruning on persisted
  indexes, exactly like ``score_queries``) and decodes doc ids in one
  flat vectorized pass per Arrow batch;
- the verify join keys on doc_id: the candidate side is
  |docs containing all terms| — for selective phrases, orders of
  magnitude below the corpus — and AQE broadcasts it, turning the
  corpus-side "join" into a semi-join probe during its scan;
- adjacency itself is a row-local Catalyst expression
  (``filter(sequence(...), i -> slice(tokens,i,m) == phrase)``): no
  Python, no extra shuffle, and it counts OVERLAPPING occurrences
  (positional semantics), which substring tricks get wrong.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.small_df import small_df, spread_small_input, width_partitioned
from .bm25 import _idf
from .postings import InvertedIndex, _decode_postings, cache_terms
from .prefix import DEFAULT_MAX_EXPANSIONS, prefix_expand


def _term_doc_pairs(index: InvertedIndex, terms: list[str]) -> DataFrame:
    """(term, doc_id) rows for the given terms, from the postings.

    Reuses ``index.term_cache`` (one dictionary collect for never-seen
    terms, zero jobs when warm) and prunes whole ``bucket=N``
    directories on persisted indexes before the scan — the same
    serving discipline as ``bm25.score_queries``.
    """
    cache = cache_terms(index, terms)
    postings = index.postings
    if index.bucketed:
        buckets = sorted({cache[t][1] for t in terms if cache[t][0] > 0})
        postings = postings.filter(F.col("bucket").isin(buckets))
    filtered = postings.filter(F.col("term").isin(list(terms))).select(
        "term", "df_part", "doc_ids"
    )

    def expand(batches):
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            docs, _, _, offs = _decode_postings(b)
            rows = np.repeat(np.arange(b.num_rows), np.diff(offs))
            yield pa.record_batch(
                [b.column("term").take(rows), pa.array(docs)], names=["term", "doc_id"]
            )

    return filtered.mapInArrow(expand, "term string, doc_id long")


def _occurrences(toks: Column, phrase: Column) -> Column:
    """Count of (overlapping) occurrences of ``phrase`` in ``toks`` —
    pure Catalyst, positional semantics."""
    return F.when(
        F.size(toks) >= F.size(phrase),
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(toks) - F.size(phrase) + 1),
                lambda i: F.slice(toks, i, F.size(phrase)) == phrase,
            )
        ),
    ).otherwise(F.lit(0)).cast("long")


def _validated(phrases: list[tuple[int, list[str]]]) -> list[tuple[int, list[str]]]:
    if not phrases or any(not p for _, p in phrases):
        raise ValueError("phrases must be non-empty token lists")
    return [(int(qid), [str(t) for t in p]) for qid, p in phrases]


def _candidates(
    index: InvertedIndex, phrases: list[tuple[int, list[str]]]
) -> DataFrame:
    """(query_id, doc_id) for live docs containing ALL of the phrase's
    terms — the postings intersection. Calling this also warms
    ``index.term_cache`` for every phrase term (the dictionary collect
    happens inside ``_term_doc_pairs``)."""
    spark = index.postings.sparkSession
    terms = sorted({t for _, p in phrases for t in p})
    # n_terms rides each (query_id, term) row (constant per query), so
    # the all-terms-present check is a HAVING on the candidate groupBy
    # instead of a second broadcast join — one fewer stage per call.
    qt = small_df(spark, 
        [(qid, t, len(set(p))) for qid, p in phrases for t in dict.fromkeys(p)],
        "query_id long, term string, n_terms int",
    )
    cand = (
        _term_doc_pairs(index, terms)
        .join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("_nt"), F.min("n_terms").alias("_need"))
        .filter(F.col("_nt") == F.col("_need"))
        .select("query_id", "doc_id")
    )
    if index.tombstones is not None:
        cand = cand.join(index.tombstones, "doc_id", "left_anti")
    return cand


def _verify(
    cand: DataFrame,
    corpus: DataFrame,
    payload: DataFrame,
    tokens_col: str,
    id_col: str,
) -> DataFrame:
    """The candidate→verify join every phrase/span operator shares:
    ``cand`` (query_id, doc_id) joined to the candidate docs' token
    arrays (as ``_toks``) and to the broadcast per-query ``payload``,
    ready for a row-local positional predicate / BM25 fold."""
    # input-skew guard (no-op for inputs that already split): the
    # row-local verify/score lambdas are CPU-dense and must not ride a
    # 1-task scan of a single small file
    docs = spread_small_input(
        corpus.select(F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("_toks"))
    )
    # the verify/score HOFs are CPU-dense per candidate row while the
    # candidate bytes are tiny — without an explicit width AQE coalesces
    # the intersection exchange to 1-2 tasks and the verify serializes
    # (guide §2.5/§4; measured 3.2 s single-task stage at sf0.1)
    cand = width_partitioned(cand, "doc_id")
    return cand.join(docs, "doc_id").join(F.broadcast(payload), "query_id")


def _qidf(index: InvertedIndex, terms: list[str]) -> list[tuple[str, float]]:
    """The (term, idf) pairs :func:`_bm25_fold` sums over: each distinct
    term in the index, from the warm ``index.term_cache``."""
    cache = index.term_cache
    return [
        (t, _idf(index.n_docs, cache[t][0]))
        for t in sorted(set(terms))
        if cache[t][0] > 0
    ]


def _bm25_fold(index: InvertedIndex, toks: Column) -> Column:
    """The row-local BM25 of a doc's token array ``toks`` against the
    per-query ``qidf`` (array<struct<term, idf>>) column: the same
    idf / tfnorm arithmetic as the term scorers (corpus-level avgdl,
    6-dp rounding), with tf/dl read off the array — no postings pass
    and no scoring join."""
    avgdl = index.avgdl or 1.0
    k1, b = index.k1, index.b
    dl = F.size(toks).cast("double")

    def _contrib(s: Column) -> Column:
        tf = F.size(F.filter(toks, lambda x: x == s["term"])).cast("double")
        return s["idf"] * (tf * (k1 + 1.0)) / (
            tf + k1 * (1.0 - b + b * dl / F.lit(avgdl))
        )

    return F.round(
        F.aggregate(F.col("qidf"), F.lit(0.0), lambda acc, s: acc + _contrib(s)), 6
    )


def phrase_match(
    index: InvertedIndex,
    corpus: DataFrame,
    phrases: list[tuple[int, list[str]]],
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact phrase match: (query_id, doc_id, n_occurrences) for every
    document where the phrase's tokens appear CONSECUTIVELY at least
    once; occurrences counted with positional (overlapping) semantics —
    ``["table","table"]`` occurs twice in ``table table table``.
    Tombstoned docs are excluded (live-docs semantics, like the
    scorers)."""
    phrases = _validated(phrases)
    spark = index.postings.sparkSession
    cand = _candidates(index, phrases)
    payload = small_df(spark, phrases, "query_id long, phrase array<string>")
    occ = _occurrences(F.col("_toks"), F.col("phrase"))
    return (
        _verify(cand, corpus, payload, tokens_col, id_col)
        .select("query_id", "doc_id", occ.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def phrase_prefix_match(
    index: InvertedIndex,
    corpus: DataFrame,
    queries: list[tuple[int, list[str]]],
    max_expansions: int = DEFAULT_MAX_EXPANSIONS,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``match_phrase_prefix``: the LAST element of each query is a
    prefix; a doc matches where the complete terms appear consecutively
    followed by ANY dictionary term in the prefix's capped expansion.
    Returns (query_id, doc_id, n_occurrences), overlapping counting.

    Lucene model (MultiPhrasePrefixQuery): the last position accepts
    the first ``max_expansions`` dictionary terms in term order — a
    BINDING cap, so a token that carries the prefix but fell outside
    the expansion does NOT match, and the expansion list itself is what
    the row-local verify consults (``array_contains``), exactly
    mirroring the oracle. Candidates: docs containing ALL complete
    terms and >= 1 expansion term (one postings pass over
    complete ∪ expanded terms, role-tagged on the broadcast rows);
    adjacency then verifies row-locally like :func:`phrase_match`.
    A single-element query degenerates to "any token in the expansion"
    (ES's prefix-only match_phrase_prefix)."""
    queries = _validated(queries)
    spark = index.postings.sparkSession
    expanded = dict(
        prefix_expand(
            index, [(qid, p[-1]) for qid, p in queries], max_expansions
        )
    )
    # role-tagged broadcast rows: complete terms and expansion
    # alternatives share ONE postings pass; n_complete rides every row
    qt_rows = []
    for qid, p in queries:
        complete = p[:-1]
        for t in dict.fromkeys(complete):
            qt_rows.append((qid, t, 1, 0, len(set(complete))))
        for t in expanded[qid]:
            qt_rows.append((qid, t, 0, 1, len(set(complete))))
    if not qt_rows or all(r[3] == 0 for r in qt_rows):
        return spark.createDataFrame(
            [], "query_id long, doc_id long, n_occurrences long"
        )
    qt = small_df(spark, 
        qt_rows, "query_id long, term string, is_complete int, is_alt int, n_complete int"
    )
    terms = sorted({r[1] for r in qt_rows})
    cand = (
        _term_doc_pairs(index, terms)
        .join(F.broadcast(qt), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum("is_complete").alias("_nc"),
            F.sum("is_alt").alias("_na"),
            F.min("n_complete").alias("_need"),
        )
        .filter((F.col("_nc") == F.col("_need")) & (F.col("_na") >= 1))
        .select("query_id", "doc_id")
    )
    if index.tombstones is not None:
        cand = cand.join(index.tombstones, "doc_id", "left_anti")
    payload = small_df(spark, 
        [(qid, p[:-1], expanded[qid]) for qid, p in queries],
        "query_id long, phrase array<string>, alts array<string>",
    )
    toks, phrase, alts = F.col("_toks"), F.col("phrase"), F.col("alts")
    occ = F.when(
        F.size(toks) > F.size(phrase),
        F.size(
            F.filter(
                F.sequence(F.lit(1), F.size(toks) - F.size(phrase)),
                lambda i: (F.slice(toks, i, F.size(phrase)) == phrase)
                & F.array_contains(alts, F.element_at(toks, i + F.size(phrase))),
            )
        ),
    ).otherwise(F.lit(0)).cast("long")
    return (
        _verify(cand, corpus, payload, tokens_col, id_col)
        .select("query_id", "doc_id", occ.alias("n_occurrences"))
        .filter(F.col("n_occurrences") > 0)
    )


def phrase_topk(
    index: InvertedIndex,
    corpus: DataFrame,
    phrases: list[tuple[int, list[str]]],
    k: int = 10,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Phrase-filtered BM25 top-k: (query_id, doc_id, score, rank).

    Scores are the SAME BM25 the term scorers produce (identical idf /
    tfnorm arithmetic, corpus-level df/avgdl, 6-dp rounding, ties by
    doc_id) summed over the phrase's distinct terms, restricted to
    documents that match the phrase — i.e. exactly
    ``score_queries(index, phrase_terms)`` re-ranked over the phrase
    match set. Computed from the candidate docs' token arrays (tf/dl
    are row-local there), so no second postings pass is needed; the
    per-query (term, idf) pairs ride the SAME broadcast row as the
    phrase itself, and the per-term sum is a row-local ``F.aggregate``
    fold over that array — no scoring shuffle and no second join. The
    only shuffles left are the candidate intersection's groupBy and
    the final per-query top-k window, both over candidate-sized data.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    phrases = _validated(phrases)
    spark = index.postings.sparkSession
    cand = _candidates(index, phrases)  # warms index.term_cache for _qidf
    payload = small_df(spark, 
        [(qid, p, _qidf(index, p)) for qid, p in phrases],
        "query_id long, phrase array<string>, "
        "qidf array<struct<term: string, idf: double>>",
    )
    toks = F.col("_toks")
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        _verify(cand, corpus, payload, tokens_col, id_col)
        .filter(_occurrences(toks, F.col("phrase")) > 0)
        .select("query_id", "doc_id", _bm25_fold(index, toks).alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
