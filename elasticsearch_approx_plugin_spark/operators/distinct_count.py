"""Two-phase CountThenEstimate aggregation over DataFrames.

The Spark re-expression of the reference's distinct pipeline
(collect per shard → serialize → reduce → materialize,
``DistinctCollector.java:72-136`` / ``InternalDistinctFacet.java:130-146``
in /root/reference):

  phase 1 (map side, no shuffle): ``mapInPandas`` folds each Arrow
    batch into one ``CountThenEstimate`` state per group key — the
    per-shard collector;
  phase 2 (one shuffle on the group key): ``applyInPandas`` merges the
    partial states — the coordinator reduce. State travels as
    ``BinaryType`` (the varint wire format analog).

Values are hashed JVM-side with ``xxhash64`` before phase 1, so Python
only ever sees int64 batches. The shuffle carries one small state per
(input-partition × group) instead of raw values — for a 100 TB input
with B buckets this is O(partitions × B × state) bytes, independent of
row count; hot groups cannot skew the shuffle because every partition
contributes exactly one row per group it saw.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.hll import HLL_DEFAULT_RSD
from ..functions.sketch import CountThenEstimate

_HASH_COL = "__value_hash"
_STATE_COL = "__sketch_state"


def _norm_key(key: tuple) -> tuple:
    """Null group-key values (None/NaN/NaT) → None, so a null key is ONE
    group (SQL GROUP BY semantics) instead of NaN≠NaN dict-key drift."""
    return tuple(None if pd.isna(x) else x for x in key)


def _partial_states(group_cols: list[str], threshold: int, rsd: float):
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, CountThenEstimate] = {}
        keys_seen: dict[tuple, tuple] = {}
        for pdf in batches:
            hashes = pdf[_HASH_COL].to_numpy(dtype=np.int64).view(np.uint64)
            if not group_cols:
                key = ()
                st = states.get(key)
                if st is None:
                    st = states[key] = CountThenEstimate(threshold, rsd)
                    keys_seen[key] = ()
                st.offer_hashes(hashes)
                continue
            if len(group_cols) == 1:
                codes, uniques = pd.factorize(pdf[group_cols[0]], sort=False)
                keys = [(None if pd.isna(u) else u,) for u in uniques]
                if (codes == -1).any():
                    # factorize sentinels null keys as -1; keep them as
                    # their own group (ADVICE r1 #1 — SQL retains a
                    # null group; previously these rows were dropped)
                    codes = np.where(codes == -1, len(keys), codes)
                    keys.append((None,))
            else:
                # vectorized composite keys: factorize each column
                # separately (null → code 0) and mix into one int64
                # code — no per-row Python tuple. Falls back to the
                # tuple path only if the code space could overflow
                # (≥ ~6 high-cardinality columns in one batch).
                parts, space = [], 1
                for c in group_cols:
                    ci, ui = pd.factorize(pdf[c], sort=False)
                    parts.append((ci + 1, ui))
                    space *= len(ui) + 1
                if space < (1 << 62):
                    comp = np.zeros(len(pdf), dtype=np.int64)
                    for ci, ui in parts:
                        comp = comp * np.int64(len(ui) + 1) + ci
                    uniq_codes, codes = np.unique(comp, return_inverse=True)
                    keys = []
                    for code in uniq_codes:
                        vals = []
                        for ci, ui in reversed(parts):
                            code, sub = divmod(int(code), len(ui) + 1)
                            v = None if sub == 0 else ui[sub - 1]
                            vals.append(None if pd.isna(v) else v)
                        keys.append(tuple(reversed(vals)))
                else:
                    codes, uniques = pd.factorize(
                        pd.Series(list(zip(*[pdf[c] for c in group_cols]))), sort=False
                    )
                    keys = [_norm_key(k) for k in uniques]
            # sort-and-slice: O(N log N) once, vs O(groups × N) masking
            order = np.argsort(codes, kind="stable")
            sorted_h = hashes[order]
            bounds = np.searchsorted(codes[order], np.arange(len(keys) + 1))
            for gi, key in enumerate(keys):
                st = states.get(key)
                if st is None:
                    st = states[key] = CountThenEstimate(threshold, rsd)
                    keys_seen[key] = key
                st.offer_hashes(sorted_h[bounds[gi] : bounds[gi + 1]])
        if states:
            rows = {c: [keys_seen[k][i] for k in states] for i, c in enumerate(group_cols)}
            rows[_STATE_COL] = [st.to_bytes() for st in states.values()]
            yield pd.DataFrame(rows)

    return fn


def _merge_states(group_cols: list[str]):
    """Partition-at-a-time merge: after a hash repartition on the group
    key every key's partial states share a partition, so ONE Python
    call merges every group in that partition (dict of states across
    Arrow batches) — per-group applyInPandas overhead would dominate in
    the many-tiny-buckets regime (e.g. minute intervals)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        states: dict[tuple, CountThenEstimate] = {}
        for pdf in batches:
            keys = (
                [_norm_key(k) for k in zip(*[pdf[c] for c in group_cols])]
                if group_cols
                else [()] * len(pdf)
            )
            for key, raw in zip(keys, pdf[_STATE_COL]):
                st = CountThenEstimate.from_bytes(bytes(raw))
                prev = states.get(key)
                states[key] = st if prev is None else prev.merge(st)
        if not states:
            return
        out = {c: [k[i] for k in states] for i, c in enumerate(group_cols)}
        out["count"] = [s.count for s in states.values()]
        out["distinct_count"] = [s.cardinality() for s in states.values()]
        out["tipped"] = [s.tipped for s in states.values()]
        yield pd.DataFrame(out)

    return fn


def _out_schema(df: DataFrame, group_cols: list[str], extra: list[T.StructField]) -> T.StructType:
    fields = [df.schema[c] for c in group_cols]
    return T.StructType(fields + extra)


def sketch_agg(
    df: DataFrame,
    group_cols: list[str],
    value_col,
    exact_threshold: int = 1000,
    rsd: float = HLL_DEFAULT_RSD,
    totals: bool = False,
) -> DataFrame:
    """``group_cols → (count, distinct_count, tipped)`` with
    exact-below-threshold / HLL-above semantics.

    ``count`` = total non-null occurrences (the reference's
    ``DistinctCountPayload`` total); ``distinct_count`` exact iff the
    group's true cardinality never exceeded ``exact_threshold``
    (sentinels: -1 never tip, 0 always sketch)."""
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    hashed = df.filter(value.isNotNull()).select(
        *group_cols, F.xxhash64(value).alias(_HASH_COL)
    )
    partial_schema = _out_schema(hashed, group_cols, [T.StructField(_STATE_COL, T.BinaryType())])
    partials = hashed.mapInPandas(
        _partial_states(group_cols, exact_threshold, rsd), partial_schema
    )
    final_schema = _out_schema(
        hashed,
        group_cols,
        [
            T.StructField("count", T.LongType()),
            T.StructField("distinct_count", T.LongType()),
            T.StructField("tipped", T.BooleanType()),
        ],
    )
    def _global(p: DataFrame) -> DataFrame:
        g_schema = T.StructType(final_schema.fields[len(group_cols) :])
        return p.coalesce(1).mapInPandas(_merge_states([]), g_schema)

    if not group_cols:
        return _global(partials)
    # hash by the group columns with no explicit width
    # (REPARTITION_BY_COL): AQE coalesces the merge's partitions by
    # bytes, so a small facet's Python state merge runs on few tasks.
    # A fixed width (session.n_shuffle_partitions) would start up to 32
    # Python tasks, each with a fixed worker cost, for a handful of groups.
    grouped = partials.repartition(*group_cols).mapInPandas(
        _merge_states(group_cols), final_schema
    )
    if not totals:
        return grouped
    # facet-level total row: merge of ALL bucket states — distinct across
    # the whole result, not Σ buckets (InternalDistinctFacet.java:188-236).
    partials = partials.persist()
    overall = _global(partials)
    for c in group_cols:
        overall = overall.withColumn(c, F.lit(None).cast(hashed.schema[c].dataType))
    result = grouped.unionByName(overall.select(*[f.name for f in final_schema.fields]))
    # materialize the (small: one row per bucket) result so the shared
    # partials cache can be released immediately (ADVICE r1 #4)
    result = result.localCheckpoint(eager=True)
    partials.unpersist(blocking=False)
    return result
