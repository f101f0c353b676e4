"""Term suggester — the ES ``suggest`` block's ``term`` suggester
(did-you-mean).

ES 0.90 ships Lucene's DirectSpellChecker behind the ``term``
suggester: per input token, dictionary terms within ``max_edits``
Levenshtein (sharing a ``prefix_length`` exact prefix) are ranked by
string-similarity score then document frequency.  The reference
plugin's facets ride the same search requests, so its users issue
suggesters daily; this module re-expresses the suggester Spark-first:

- candidate generation is the shared capped expansion
  (:func:`prefix._expand_capped`, the ``fuzzy.py`` match): per-input
  ``F.levenshtein`` conditions, ranked per input by (score, freq,
  term) and capped at ``size``; with ``prefix_length > 0`` each
  input's prefix is its literal anchor, which pushes into a persisted
  dictionary's parquet scan — the same reason Lucene's
  DirectSpellChecker only walks the automaton's dictionary range;
- the score is the documented deterministic variant of Lucene's
  LevenshteinDistance similarity:
  ``round(1 − dist / max(len(input), len(candidate)), 6)`` — integer
  edit distance over integer lengths, bit-identical in any engine;
- ``suggest_mode``: ``missing`` (suggest only for inputs absent from
  the index — the default), ``popular`` (only candidates with df
  strictly above the input's df), ``always``;
- knobs with their ES defaults: ``size=5``, ``sort`` ``score`` (score
  desc, freq desc, term asc) or ``frequency`` (freq desc, score desc,
  term asc), ``max_edits=2`` (Lucene's automaton cap),
  ``prefix_length=1``, ``min_word_length=4`` (shorter inputs get no
  suggestions), ``min_doc_freq=0``;
- input df lookups ride ``index.term_cache`` (one bounded dictionary
  collect for never-seen inputs, zero jobs warm).

The suggester never touches postings — cost is one (prefix-pruned)
dictionary scan regardless of corpus size, plus a per-input top-`size`
window over candidate-count rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .postings import InvertedIndex, cache_terms
from .prefix import MAX_EDITS, _expand_capped

_MODES = ("missing", "popular", "always")
_SORTS = ("score", "frequency")


def term_suggest(
    index: InvertedIndex,
    inputs: list[tuple[int, str]],
    size: int = 5,
    suggest_mode: str = "missing",
    sort: str = "score",
    max_edits: int = MAX_EDITS,
    prefix_length: int = 1,
    min_word_length: int = 4,
    min_doc_freq: int = 0,
) -> DataFrame:
    """Suggestions → (query_id, suggestion, score, freq, rank).

    ``inputs``: (query_id, token) pairs — the analyzed suggest text.
    Inputs shorter than ``min_word_length``, and (in ``missing`` mode)
    inputs already present in the index, produce no rows — the ES
    empty ``options`` list.
    """
    if not inputs or any(not t for _, t in inputs):
        raise ValueError("suggest inputs must be non-empty strings")
    if size < 1:
        raise ValueError(f"size must be >= 1, got {size}")
    if suggest_mode not in _MODES:
        raise ValueError(f"suggest_mode must be one of {_MODES}")
    if sort not in _SORTS:
        raise ValueError(f"sort must be one of {_SORTS}")
    if not 1 <= max_edits <= MAX_EDITS:
        raise ValueError(f"max_edits must be in [1, {MAX_EDITS}], got {max_edits}")
    if prefix_length < 0 or min_word_length < 1 or min_doc_freq < 0:
        raise ValueError("prefix_length/min_word_length/min_doc_freq out of range")
    inputs = [(int(qid), str(t)) for qid, t in inputs]

    cache = cache_terms(index, sorted({t for _, t in inputs}))
    eligible = [(qid, t) for qid, t in inputs if len(t) >= min_word_length]
    if suggest_mode == "missing":
        eligible = [(qid, t) for qid, t in eligible if cache[t][0] == 0]

    spark = index.dictionary.sparkSession
    out_schema = (
        "query_id long, suggestion string, score double, freq long, rank long"
    )
    if not eligible:
        return spark.createDataFrame([], out_schema)

    dictionary = index.dictionary
    if min_doc_freq:
        dictionary = dictionary.filter(F.col("df") >= min_doc_freq)
    queries, keys = [], []
    for qid, t in eligible:
        dist = F.levenshtein(F.col("term"), F.lit(t))
        cond = (F.col("term") != t) & (dist <= max_edits)
        if prefix_length:
            cond = F.col("term").startswith(t[:prefix_length]) & cond
        if suggest_mode == "popular":
            cond = cond & (F.col("df") > cache[t][0])
        score = F.round(
            1.0
            - dist.cast("double")
            / F.greatest(F.lit(len(t)), F.length("term")).cast("double"),
            6,
        )
        queries.append((qid, cond, t[:prefix_length]))
        keys.append({"score": score})
    order = (
        [F.desc("score"), F.desc("df"), F.asc("term")]
        if sort == "score"
        else [F.desc("df"), F.desc("score"), F.asc("term")]
    )
    return _expand_capped(dictionary, queries, size, order, keys).select(
        "query_id",
        F.col("term").alias("suggestion"),
        "score",
        F.col("df").cast("long").alias("freq"),
        F.col("rn").cast("long").alias("rank"),
    )
