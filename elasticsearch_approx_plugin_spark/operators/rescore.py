"""Query rescorer — the ES ``rescore`` block.

ES ships a query rescorer from 0.90 (the classic cheap-OR-then-phrase
pattern the reference's users combine with facet requests): the top
``window_size`` hits of the base query are re-scored by a second,
costlier query, and the final score is

    query_weight * base_score + rescore_query_weight * rescore_score

with a document that does NOT match the rescore query contributing 0
rescore score (it keeps ``query_weight * base_score``).  This module
reimplements that window discipline Spark-first:

- the base ranking is :func:`bm25.score_queries` at ``k=window_size``
  — the gated WAND/tombstone/pruning path, so the window inherits
  every serving optimization;
- the window's doc ids (bounded: ≤ queries × window_size rows, the
  same driver-bounded posture as ``highlight_topk``) push into the
  corpus scan as an IN filter — the rescore pass never touches a
  non-window document, which is the entire point of rescoring at
  100 TB;
- the rescore query's BM25 is computed ROW-LOCALLY from the window
  docs' token arrays (the ``phrase_topk`` fold: per-query
  ``(term, idf)`` pairs ride one broadcast row, tf/dl come from the
  array) — no second postings pass, no scoring shuffle;
- ``rescore_type="match_phrase"`` gates the rescore score on a
  positional phrase match (Lucene's rescorer running a PhraseQuery),
  reusing the phrase operators' overlapping-occurrence witness.

Window semantics: the returned top-``k`` re-ranks the WINDOW.  This
equals ES's full-list semantics whenever ``query_weight >= 1`` and
``rescore_query_weight >= 0`` (every window doc's combined score stays
>= its base score >= every outside doc's base score, so the global
top-k is inside the window); for other weights the window-local
re-rank is this operator's documented contract.

One extra job vs the base ranking (the bounded window collect); the
rescore itself adds zero wide exchanges — the only shuffle after
scoring is the final per-query top-k window over ≤ q × window rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.small_df import small_df
from .bm25 import score_queries
from .phrase import _bm25_fold, _occurrences, _qidf
from .postings import InvertedIndex, cache_terms

_RESCORE_TYPES = ("match", "match_phrase")


def rescore_topk(
    index: InvertedIndex,
    corpus: DataFrame,
    queries: list[tuple[int, list[str]]],
    rescores: dict[int, list[str]],
    k: int = 10,
    window_size: int = 50,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    rescore_type: str = "match",
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Rescored top-k → (query_id, doc_id, score, rank).

    ``queries``: the base (query_id, terms) list fed to the scorer.
    ``rescores``: query_id → rescore terms; every query must have one
    (the strict no-silent-drop posture of the request parsers).  For
    ``rescore_type="match_phrase"`` the terms are the phrase in order;
    for ``"match"`` they are an OR term set.  Scores are 6-dp rounded
    at every stage (base, rescore, combined) so the DuckDB oracle
    reproduces them bit-for-bit.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if window_size < k:
        raise ValueError(f"window_size ({window_size}) must be >= k ({k})")
    if not queries:
        raise ValueError("queries must be non-empty")
    qids = [qid for qid, _ in queries]
    missing = [qid for qid in qids if qid not in rescores]
    if missing:
        raise ValueError(f"queries without a rescore entry: {missing}")
    base = score_queries(index, queries, window_size)
    return rescore_window(
        index, base, corpus, rescores, k,
        query_weight=query_weight,
        rescore_query_weight=rescore_query_weight,
        rescore_type=rescore_type,
        tokens_col=tokens_col,
        id_col=id_col,
    )


def rescore_window(
    index: InvertedIndex,
    base: DataFrame,
    corpus: DataFrame,
    rescores: dict[int, list[str]],
    k: int = 10,
    query_weight: float = 1.0,
    rescore_query_weight: float = 1.0,
    rescore_type: str = "match",
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """The rescore combine over an already-windowed base
    ``(query_id, doc_id, score)`` — exposed separately so the
    ``_search`` dispatcher can rescore ANY scored query type's top
    window (``base`` must already be trimmed to the window)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if rescore_type not in _RESCORE_TYPES:
        raise ValueError(f"rescore_type must be one of {_RESCORE_TYPES}")
    if not rescores:
        raise ValueError("rescores must be non-empty")
    if any(not ts for ts in rescores.values()):
        raise ValueError("rescore term lists must be non-empty")

    base = base.select("query_id", "doc_id", F.col("score").alias("_base"))
    # materialize the window ONCE (bounded: q × window rows).  The id
    # collect below and the rescore join both consume `base`; without
    # the checkpoint the final join re-ran the entire base scoring
    # pass a second time (round 7, profiled).
    base = base.localCheckpoint(eager=True)
    # bounded window collect (≤ q × window ids) → IN pushdown into the
    # corpus scan, exactly the highlight_topk discipline
    win_ids = sorted({r["doc_id"] for r in base.select("doc_id").distinct().collect()})
    if not win_ids:
        return base.select(
            "query_id",
            "doc_id",
            F.col("_base").alias("score"),
            F.lit(0).cast("long").alias("rank"),
        )
    cache_terms(index, sorted({t for ts in rescores.values() for t in ts}))
    spark = corpus.sparkSession
    payload = small_df(spark, 
        [
            (int(qid), [str(t) for t in ts], _qidf(index, ts))
            for qid, ts in rescores.items()
        ],
        "query_id long, phrase array<string>, "
        "qidf array<struct<term: string, idf: double>>",
    )
    docs = corpus.filter(F.col(id_col).isin(win_ids)).select(
        F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("_toks")
    )
    toks = F.col("_toks")
    resc = _bm25_fold(index, toks)
    if rescore_type == "match_phrase":
        resc = F.when(_occurrences(toks, F.col("phrase")) > 0, resc).otherwise(
            F.lit(0.0)
        )
    combined = F.round(
        F.lit(float(query_weight)) * F.col("_base")
        + F.lit(float(rescore_query_weight)) * resc,
        6,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        base.join(docs, "doc_id")
        .join(F.broadcast(payload), "query_id")
        .select("query_id", "doc_id", combined.alias("score"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )
