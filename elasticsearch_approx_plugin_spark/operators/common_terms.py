"""``common`` terms query — Lucene's CommonTermsQuery (ES 0.90.1+).

The stopword-free way to query text with very frequent terms: query
terms partition by document frequency at ``cutoff_frequency`` —

- **low-frequency group** (df/n_docs <= cutoff, or df <= cutoff when
  cutoff >= 1 is an absolute df): drives MATCHING — a bool-should
  with ``low_freq_operator``/``minimum_should_match`` semantics;
- **high-frequency group**: scoring only — its BM25 adds to docs the
  low group already matched, but never expands the match set (the
  Lucene ``BooleanQuery(must: low, should: high)`` rewrite).

If EVERY term is high-frequency, the query degrades to a plain
bool-should over the high group with ``high_freq_operator`` (Lucene's
fallback — otherwise such a query could never match).

Spark shape: classification needs only df, which rides the warmed
``term_cache`` (zero jobs when warm). The low group scores through
the gated scorer over its full (rare, small by construction) match
set; the high group scores through the same scorer and LEFT
SEMI-restricts to the low candidates before the sum — the exact
efficiency story CommonTermsQuery exists for: the expensive
high-frequency postings contribute only candidate-set-sized rows to
the final combine. Scores sum as ``round(low + high, 6)`` on the
already-6-dp values, the repo's bool-combine convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.small_df import small_df

from .bm25 import score_queries
from .phrase import _bm25_fold, _qidf
from .postings import InvertedIndex, cache_terms

_OPERATORS = ("or", "and")


def common_terms_topk(
    index: InvertedIndex,
    queries: list[tuple[int, list[str]]],
    k: int = 10,
    cutoff_frequency: float = 0.01,
    low_freq_operator: str = "or",
    high_freq_operator: str = "or",
    minimum_should_match: int | None = None,
    corpus: DataFrame | None = None,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """common-query top-k → (query_id, doc_id, score, rank).

    ``minimum_should_match`` applies to the LOW group (ES's
    ``minimum_should_match.low_freq``); ``low_freq_operator="and"``
    means every low term. The high group's operator only matters in
    the all-high degraded case.

    ``corpus`` (doc_id, tokens) switches the high group to the SCALE
    path: instead of scanning the hot terms' (corpus-sized) postings
    and semi-joining, the candidates join the corpus once and the high
    BM25 folds ROW-LOCALLY over their token arrays (the phrase_topk /
    rescore fold — identical 6-dp scores, asserted in tests), so the
    high group costs O(candidates), Lucene's CommonTermsQuery story.
    Without ``corpus`` the postings path runs (same results).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if cutoff_frequency <= 0:
        raise ValueError(f"cutoff_frequency must be positive, got {cutoff_frequency}")
    if low_freq_operator not in _OPERATORS or high_freq_operator not in _OPERATORS:
        raise ValueError(f"operators must be one of {_OPERATORS}")
    if not queries or any(not ts for _, ts in queries):
        raise ValueError("queries must be non-empty term lists")
    if minimum_should_match is not None and minimum_should_match < 1:
        raise ValueError("minimum_should_match must be >= 1")

    all_terms = sorted({t for _, ts in queries for t in ts})
    cache, n = cache_terms(index, all_terms), float(index.n_docs)

    def is_high(t: str) -> bool:
        df = cache[t][0]
        return df > cutoff_frequency if cutoff_frequency >= 1 else df / n > cutoff_frequency

    low_q, high_q, degraded_q = [], [], []
    low_msm, high_msm = {}, {}
    for qid, ts in queries:
        uniq = sorted(set(ts))
        low = [t for t in uniq if not is_high(t)]
        high = [t for t in uniq if is_high(t)]
        if low:
            low_q.append((qid, low))
            low_msm[qid] = (
                len(low) if low_freq_operator == "and"
                else (minimum_should_match or 1)
            )
            if high:
                high_q.append((qid, high))
        else:
            degraded_q.append((qid, high))
            high_msm[qid] = len(high) if high_freq_operator == "and" else 1

    parts = []
    if low_q:
        low_scores = score_queries(
            index, low_q, k=index.n_docs, minimum_should_match=low_msm,
            ranked=False,
        ).select("query_id", "doc_id", F.col("score").alias("_lo"))
        if high_q and corpus is not None:
            # scale path: high BM25 folds row-locally over the
            # candidates' token arrays — hot postings never scanned
            spark = corpus.sparkSession
            payload = small_df(spark, 
                [(qid, _qidf(index, hts)) for qid, hts in high_q],
                "query_id long, qidf array<struct<term: string, idf: double>>",
            )
            docs = corpus.select(
                F.col(id_col).alias("doc_id"), F.col(tokens_col).alias("_toks")
            )
            hi = _bm25_fold(index, F.col("_toks"))
            combined = (
                low_scores.join(docs, "doc_id")
                .join(F.broadcast(payload), "query_id", "left")
                .select(
                    "query_id",
                    "doc_id",
                    F.round(
                        F.col("_lo")
                        + F.coalesce(
                            F.when(F.col("qidf").isNotNull(), hi), F.lit(0.0)
                        ),
                        6,
                    ).alias("score"),
                )
            )
        elif high_q:
            high_scores = score_queries(
                index, high_q, k=index.n_docs, ranked=False
            ).select(
                "query_id", "doc_id", F.col("score").alias("_hi")
            )
            # high terms add score ONLY on low-matched docs
            combined = low_scores.join(
                high_scores, ["query_id", "doc_id"], "left"
            ).select(
                "query_id",
                "doc_id",
                F.round(F.col("_lo") + F.coalesce(F.col("_hi"), F.lit(0.0)), 6).alias(
                    "score"
                ),
            )
        else:
            combined = low_scores.select(
                "query_id", "doc_id", F.col("_lo").alias("score")
            )
        parts.append(combined)
    if degraded_q:
        parts.append(
            score_queries(
                index, degraded_q, k=index.n_docs, minimum_should_match=high_msm,
                ranked=False,
            ).select("query_id", "doc_id", "score")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return out.withColumn("rank", F.row_number().over(w).cast("long")).filter(
        F.col("rank") <= k
    )
