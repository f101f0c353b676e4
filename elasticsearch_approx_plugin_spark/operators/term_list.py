"""Term list facet — fast unsorted distinct terms of a field.

Reference: ``TermListFacetExecutor.java`` (/root/reference) — two modes:

- ``collector``: visit matching docs, add terms to a per-shard hash
  with a per-shard cap (``max_per_shard``, default 1000,
  ``termlist/Constants.java:5``) and optional Bernoulli doc sampling
  (``sample ∈ (0,1]``, seeded ``Random(0)``). Spark shape:
  ``df.sample(fraction, seed=0)`` → explode → per-partition capped
  distinct (``mapInPandas`` — the shard cap) → global ``distinct()``.
- ``post``: iterate the term *dictionary* instead of documents —
  recommended for low-cardinality fields (``README.md:218-220``); here
  that is a scan of the index's dictionary table, restricted (when the
  caller filtered the corpus) to terms with ≥1 VISIBLE matching doc —
  the reference walks each dictionary term's docSet intersection
  (``TermListFacetExecutor.java:158-199``); we decode only the posting
  rows in the matching docs' ranges (:func:`term_list_post`).
  ``sample`` is rejected in post mode exactly like the reference
  (``TermListFacetExecutor.java:150-153``).

Numeric fields round-trip through strings (the reference decodes
Lucene prefix-coded numerics, ``BytesRefUtils.java:197-208``; we just
``cast``).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .postings import _col, _decode_postings

DEFAULT_MAX_PER_PARTITION = 1000


def _cap_partition_distinct(cap: int):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen: set = set()
        for pdf in batches:
            # past the cap the rest of the input is drained, not left
            # unread: a Python worker whose input is not fully consumed
            # is not returned to the reuse pool, and the next task pays
            # a fresh worker's start-up and imports
            if len(seen) >= cap:
                continue
            # vectorized per batch (no per-term Python loop): first-seen
            # order within the batch is preserved by pd.unique, so the
            # cap cut is the same one the old loop made
            uniq = pd.unique(pdf["term"])
            fresh = uniq[~pd.Series(uniq).isin(seen).to_numpy()]
            seen.update(fresh[: cap - len(seen)].tolist())
        if seen:
            yield pd.DataFrame({"term": sorted(seen)})

    return fn


POST_BROADCAST_MAX_IDS = 5_000_000  # ~40 MB of int64 — same order as bm25's tomb_b


def _rows_hitting(tbl, ids: np.ndarray) -> np.ndarray:
    """Indexes of ``tbl``'s posting rows holding at least one doc of
    ``ids``: one flat doc-id decode, one membership pass."""
    docs, _, _, offs = _decode_postings(tbl.select(["df_part", "doc_ids"]))
    return np.flatnonzero(np.logical_or.reduceat(np.isin(docs, ids), offs[:-1]))


def _post_broadcast_terms(match_b, range_bits: int):
    """Vectorized 'does this term have a visible matching doc' test:
    the global sorted match-id array ships ONCE per executor as a
    broadcast (docIDs are globally unique, so one flat membership array
    serves every range). Rows whose range holds no match are dropped
    before any varint is touched."""

    def fn(batches):
        match = match_b.value
        chunks = list(batches)
        if not chunks:
            return
        tbl = pa.Table.from_batches(chunks)
        in_range = np.isin(_col(tbl, "range_id", np.int64), np.unique(match >> range_bits))
        sub = tbl.take(np.flatnonzero(in_range))
        if sub.num_rows:
            yield from sub.select(["term"]).take(_rows_hitting(sub, match)).to_batches()

    return fn


def _post_cogroup_terms(post, match):
    """Cogroup fallback for match sets too large to broadcast: each
    task receives one range's posting rows AND that range's match ids
    exactly once (never replicated per posting row — the blow-up
    ADVICE r3 flagged in the collect_list join formulation)."""
    if not post.num_rows or not match.num_rows:
        return pa.table({"term": pa.array([], pa.string())})
    return post.select(["term"]).take(_rows_hitting(post, _col(match, "doc_id")))


def term_list_post(
    index,
    matching_ids: DataFrame | None = None,
    broadcast_max_ids: int = POST_BROADCAST_MAX_IDS,
) -> DataFrame:
    """Post mode over a persisted/in-memory index: the term dictionary,
    restricted to terms with ≥1 visible matching doc.

    Matches ``TermListFacetExecutor.java:158-199`` (/root/reference):
    the reference iterates the dictionary and keeps a term iff its
    docSet intersects the query's matching docs. Spark shape, two
    regimes (ADVICE r3 — the per-range ``collect_list`` join replicated
    the whole match array onto EVERY posting row of the range,
    shuffle/Arrow volume posting_rows × matches_per_range):

    - match set ≤ ``broadcast_max_ids``: ship it ONCE per executor as a
      sorted-array broadcast (bm25's ``tomb_b`` pattern) and run one
      zero-shuffle Arrow membership pass over the postings scan;
    - larger: cogroup postings with match ids by ``range_id`` — one
      shuffle, each task holds one range's ids exactly once, memory
      bounded at any selectivity.

    ``matching_ids=None`` means an unfiltered corpus — every dictionary
    term qualifies, no posting is decoded.
    """
    if matching_ids is None:
        return index.dictionary.select(
            F.col("term").cast("string").alias("term")
        ).distinct()
    m = matching_ids.select(F.col(matching_ids.columns[0]).alias("doc_id"))
    if index.tombstones is not None:
        m = m.join(index.tombstones.select("doc_id"), "doc_id", "left_anti")

    spark = index.postings.sparkSession
    head = m.limit(broadcast_max_ids + 1).collect()
    if len(head) <= broadcast_max_ids:
        ids = np.unique(np.fromiter((r[0] for r in head), dtype=np.int64, count=len(head)))
        if ids.size == 0:
            return spark.createDataFrame([], "term string")
        match_b = spark.sparkContext.broadcast(ids)
        pb = index.postings
        mranges = np.unique(ids >> index.range_bits)
        if mranges.size <= 1024:
            # few matched ranges → a pushed-down IN filter prunes the
            # parquet scan to them (ranges without matches never read)
            pb = pb.filter(F.col("range_id").isin([int(r) for r in mranges]))
        return (
            pb.mapInArrow(
                _post_broadcast_terms(match_b, index.range_bits), "term string"
            )
            .distinct()
        )
    per_range = m.withColumn("range_id", F.shiftright("doc_id", index.range_bits))
    return (
        index.postings.groupBy("range_id")
        .cogroup(per_range.groupBy("range_id"))
        .applyInArrow(_post_cogroup_terms, "term string")
        .distinct()
    )


def term_list(
    df: DataFrame,
    field: str,
    max_per_partition: int = DEFAULT_MAX_PER_PARTITION,
    sample: float = 1.0,
    seed: int = 0,
    mode: str = "collector",
    dictionary: DataFrame | None = None,
    index=None,
    matching_ids: DataFrame | None = None,
) -> DataFrame:
    """Distinct terms of ``field`` → single-column ``term`` DataFrame."""
    if not (0.0 < sample <= 1.0):
        raise ValueError("sample must be in (0, 1]")  # TermListFacetParser.java:66-67
    if mode == "post":
        if sample != 1.0:
            raise ValueError("sampling not supported in post mode")
        if index is not None:
            return term_list_post(index, matching_ids)
        if dictionary is None:
            raise ValueError("post mode needs the index (or its dictionary table)")
        return dictionary.select(F.col("term").cast("string").alias("term")).distinct()
    if mode != "collector":
        raise ValueError(f"unknown mode {mode!r}")

    if sample < 1.0:
        df = df.sample(fraction=sample, seed=seed)
    if isinstance(df.schema[field].dataType, T.ArrayType):
        terms = df.select(F.explode(field).alias("term"))
    else:
        terms = df.select(F.col(field).alias("term"))
    terms = terms.filter(F.col("term").isNotNull()).select(
        F.col("term").cast("string").alias("term")
    )
    # cap fast path: an uncapped (None / effectively-infinite) list is a
    # pure JVM distinct — don't route every term through a Python pass
    # that can never drop anything (VERDICT r1 finding #5)
    if max_per_partition is not None and max_per_partition < (1 << 40):
        terms = terms.mapInPandas(_cap_partition_distinct(max_per_partition), "term string")
    return terms.distinct()
