"""The driver-local table builder (functions/small_df.py) is on every
serving operator's hot path; these tests freeze its two contracts:

1. The JSON-literal fast path returns the SAME rows/schema that
   ``spark.createDataFrame`` would, for every row shape the call sites
   use (scalars, arrays, arrays of structs, tricky strings, nulls) —
   and it really is the no-Python-task plan (no ``Scan ExistingRDD``).
2. Row shapes JSON cannot reproduce exactly (non-finite floats) and
   oversized lists fall back to the classic parallelize path instead
   of failing or silently corrupting.
"""

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from elasticsearch_approx_plugin_spark.functions.small_df import (
    _ROWS_PER_SLICE,
    _json_cell,
    small_df,
    width_partitioned,
)

CASES = [
    (
        [(0, "ta'ble\\x\"y", 3), (1, "日本語 token", 2), (2, None, 0)],
        "query_id long, term string, n_terms int",
    ),
    ([(0, ["a", "b\\'c", ""]), (1, [])], "query_id long, phrase array<string>"),
    (
        [
            (
                0,
                ["t1", "t2"],
                [("t1", 2), ("x\\", 1)],
                4,
                [("t1", 1.5), ("z", 1.0 / 3.0)],
            )
        ],
        "query_id long, qterms array<string>, "
        "qcounts array<struct<term: string, cnt: int>>, length int, "
        "qidf array<struct<term: string, idf: double>>",
    ),
    ([(0, [1.5, -2.25, 0.1], 3, 4)], "query_id long, qvec array<double>, tbl long, bucket long"),
    ([(7,)], "doc_id long"),
]


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_json_literal_parity_and_plan(spark):
    for rows, schema in CASES:
        fast = small_df(spark, rows, schema)
        assert "Scan ExistingRDD" not in _physical(fast), schema
        ref = spark.createDataFrame(rows, schema)
        assert fast.schema.simpleString() == ref.schema.simpleString()
        assert sorted(map(repr, fast.collect())) == sorted(map(repr, ref.collect()))


def test_float_roundtrip_is_exact(spark):
    vals = [0.1, 1.0 / 3.0, 2.2250738585072014e-308, 1.7976931348623157e308, -0.0]
    rows = [(i, v) for i, v in enumerate(vals)]
    got = {
        r["i"]: r["v"]
        for r in small_df(spark, rows, "i long, v double").collect()
    }
    for i, v in enumerate(vals):
        assert got[i] == v and math.copysign(1, got[i]) == math.copysign(1, v)


def test_non_finite_falls_back(spark):
    df = small_df(spark, [(0, float("nan")), (1, float("inf"))], "i long, v double")
    assert "Scan ExistingRDD" in _physical(df)  # parallelize path
    rows = {r["i"]: r["v"] for r in df.collect()}
    assert math.isnan(rows[0]) and math.isinf(rows[1])


def test_oversized_list_falls_back(spark):
    n = _ROWS_PER_SLICE + 1
    df = small_df(spark, [(i,) for i in range(n)], "i long")
    assert "Scan ExistingRDD" in _physical(df)
    assert df.count() == n


def test_mistyped_values_are_rejected(spark):
    """A str/bytes for an array column is not split into characters and
    a bool for a float column is not read as 1.0: the encoder raises,
    and the fallback path's schema check rejects the row too."""
    for row, schema in (
        (("ab",), "phrase array<string>"),
        ((b"ab",), "phrase array<string>"),
        ((True,), "v double"),
        ((False,), "v float"),
    ):
        with pytest.raises(TypeError):
            _json_cell(row, StructType.fromDDL(schema))
        with pytest.raises(Exception):
            small_df(spark, [row], schema).collect()


def test_empty_rows(spark):
    df = small_df(spark, [], "i long, s string")
    assert df.count() == 0
    assert df.schema.simpleString() == "struct<i:bigint,s:string>"


def test_width_partitioned_pins_explicit_width(spark):
    from elasticsearch_approx_plugin_spark.session import n_shuffle_partitions

    df = width_partitioned(spark.range(100).select(F.col("id").alias("doc_id")), "doc_id")
    plan = df._jdf.queryExecution().toString()
    assert "REPARTITION_BY_NUM" in plan
    assert df.rdd.getNumPartitions() == n_shuffle_partitions(spark)
