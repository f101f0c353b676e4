"""Driver-local rows as a DataFrame without the default-parallelism
fan-out.

``spark.createDataFrame(list)`` parallelizes local data into
``spark.default.parallelism`` slices; for the few-hundred-row query /
payload tables every serving operator builds per call, that is ~128
mostly-empty Python tasks (measured ~1.4 s per call on ``local[32]``,
the single largest fixed cost of every serving query at benchmark
scale) before the broadcast is even built.  One slice per 64k rows
keeps a query table to ONE Python task (~50 ms) while staying safe for
the occasional larger bounded list (keep-lists, offsets); the result is
an ordinary, schema-verified, broadcastable DataFrame.

This is a driver-side construction cost, independent of data scale: at
100 TB the query tables are the same few hundred rows.
"""

from __future__ import annotations

import json
import math
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    ByteType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
)

_ROWS_PER_SLICE = 65536


def spread_small_input(df: DataFrame) -> DataFrame:
    """Re-spread an input whose planned scan parallelism is far below
    the session's shuffle width (guide-style input-skew fix: one small
    unsplittable file serializes every CPU-dense downstream stage on a
    single task — MinHash signatures, sketch partials, phrase/span
    verify folds all sat on 1-task scans at benchmark scale).

    No-op — and crucially NO shuffle — whenever the input already
    splits to at least half the shuffle width, which any at-scale table
    does (splits = bytes / maxPartitionBytes); the reshuffle only fires
    for inputs bounded by ~width × maxPartitionBytes, where moving them
    once is negligible and buys full-core parallelism."""
    from ..session import n_shuffle_partitions

    if df.isStreaming:
        # a streaming relation has no static partition count (df.rdd is
        # illegal); micro-batch parallelism is the source's concern
        return df
    n = n_shuffle_partitions(df.sparkSession)
    if df.rdd.getNumPartitions() < max(2, n // 2):
        return df.repartition(n)
    return df


def width_partitioned(df: DataFrame, *keys: str) -> DataFrame:
    """Pin a bounded intermediate to the session shuffle width, hashed
    by ``keys`` (REPARTITION_BY_NUM — AQE never coalesces an explicit
    numPartitions repartition), so a CPU-dense row-local stage
    downstream cannot fold onto the 1–2 byte-coalesced tasks AQE picks
    for byte-small exchanges.  Use on candidate sets feeding
    interpreted-HOF verify/score projections: their bytes are tiny
    (ids) but their per-row CPU is not.  Keying on the downstream join
    key lets a sort-merge join at scale reuse the exchange."""
    from ..session import n_shuffle_partitions

    return df.repartition(n_shuffle_partitions(df.sparkSession), *keys)


def _json_cell(v, dt):
    """Schema-driven Python value → JSON-shape value (structs become
    dicts keyed by field name, so positional tuples survive the JSON
    round trip). Raises TypeError for anything ``from_json`` cannot
    reproduce exactly (binary, timestamps, non-finite floats) or that
    does not have the column's type (a string for an array, a bool for
    a number) — the caller falls back to the parallelize path, whose
    schema check rejects the latter."""
    if v is None:
        return None
    if isinstance(dt, StructType):
        vals = (
            [v.get(f.name) for f in dt.fields]
            if isinstance(v, dict)
            else list(v)
        )
        if len(vals) != len(dt.fields):
            raise TypeError("struct arity mismatch")
        return {
            f.name: _json_cell(x, f.dataType) for f, x in zip(dt.fields, vals)
        }
    if isinstance(dt, ArrayType):
        if isinstance(v, (str, bytes)):
            _raise_type(dt, v)  # iterating would split it into chars
        return [_json_cell(x, dt.elementType) for x in v]
    if isinstance(dt, (LongType, IntegerType, ShortType, ByteType)):
        if isinstance(v, bool):
            raise TypeError(f"expected int for {dt}, got bool")
        return operator.index(v)  # exact for any Integral (incl. numpy)
    if isinstance(dt, (DoubleType, FloatType)):
        if isinstance(v, bool):
            raise TypeError(f"expected float for {dt}, got bool")
        f = float(v)
        if not math.isfinite(f):
            raise TypeError("non-finite float")
        return f
    if isinstance(dt, StringType):
        return str(v) if isinstance(v, str) else _raise_type(dt, v)
    if isinstance(dt, BooleanType):
        return bool(v) if isinstance(v, bool) else _raise_type(dt, v)
    raise TypeError(f"unsupported type for JSON literal path: {dt}")


def _raise_type(dt, v):
    raise TypeError(f"expected {dt}, got {type(v)}")


def small_df(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """``rows`` (bounded, driver-local) → DataFrame.

    Fast path: the rows serialize to ONE ``from_json`` string literal
    exploded from a 1-partition ``range(1)`` — the optimizer
    constant-folds the parse, so the relation is a pure JVM codegen
    plan with NO Python task and a sub-millisecond broadcast build
    (the parallelize-backed table ran a forked Python worker on every
    (re)execution, ~50-100 ms per action).  ``FAILFAST`` turns any
    encoder/schema mismatch into an error instead of silent nulls, and
    the schema-driven encoder raises — falling back to the classic
    1-slice-per-64k-rows parallelize path — for row shapes JSON cannot
    reproduce exactly (binary, timestamps, non-finite floats)."""
    if not rows:
        return spark.createDataFrame([], schema)
    st = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    if len(rows) <= _ROWS_PER_SLICE:
        try:
            payload = json.dumps(
                [_json_cell(r, st) for r in rows],
                ensure_ascii=False,
                allow_nan=False,
            )
            return (
                spark.range(0, 1, 1, 1)
                .select(
                    F.explode(
                        F.from_json(
                            F.lit(payload), ArrayType(st), {"mode": "FAILFAST"}
                        )
                    ).alias("_r")
                )
                .select("_r.*")
            )
        except (TypeError, ValueError):
            pass  # non-JSON-safe rows → parallelize path below
    n_slices = 1 + (len(rows) - 1) // _ROWS_PER_SLICE
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), st
    )
