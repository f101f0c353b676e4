"""Core ES facet family (terms / statistical / histogram / range /
terms_stats) — hand-computed semantics on a tiny frame, DuckDB
cross-checks on the test tables, and plan-shape assertions."""

import duckdb
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from elasticsearch_approx_plugin_spark.operators.facets import (
    histogram_facet,
    range_facet,
    statistical_facet,
    terms_facet,
    terms_stats_facet,
)


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (0, "a", 1.0),
        (1, "a", 2.0),
        (2, "b", 3.0),
        (3, "b", None),
        (4, "c", 5.0),
        (5, None, 7.0),
        (6, None, -2.6),
    ]
    return spark.createDataFrame(rows, "id long, k string, v double")


# ---------------------------------------------------------------- terms ----


def test_terms_entries_and_summary(tiny):
    out = {r["term"]: r for r in terms_facet(tiny, "k", size=2).collect()}
    # counts: a=2 b=2 c=1; top-2 by (count desc, term asc) = a, b
    assert set(out) == {"a", "b"}
    assert out["a"]["count"] == 2 and out["b"]["count"] == 2
    # total = 5 (all collected terms), other = 5 - 4 = 1, missing = 2
    for r in out.values():
        assert (r["total"], r["other"], r["missing"]) == (5, 1, 2)


def test_terms_exclude_removed_from_everything(tiny):
    out = terms_facet(tiny, "k", size=10, exclude=("a",)).collect()
    assert {r["term"] for r in out} == {"b", "c"}
    for r in out:
        assert (r["total"], r["other"], r["missing"]) == (3, 0, 2)


def test_terms_order_grammar(tiny):
    assert {r["term"] for r in terms_facet(tiny, "k", 1, "term").collect()} == {"a"}
    assert {r["term"] for r in terms_facet(tiny, "k", 1, "reverse_term").collect()} == {
        "c"
    }
    # reverse_count: ascending, tie a<b after c(1)
    assert {r["term"] for r in terms_facet(tiny, "k", 2, "reverse_count").collect()} == {
        "a",
        "c",
    }
    with pytest.raises(ValueError):
        terms_facet(tiny, "k", order="bogus")
    with pytest.raises(ValueError):
        terms_facet(tiny, "k", size=0)


def test_terms_multivalued_distinct_per_doc(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("tags", T.ArrayType(T.StringType())),
        ]
    )
    df = spark.createDataFrame(
        [(0, ["x", "x", "y"]), (1, ["y"]), (2, []), (3, None)], schema
    )
    out = {r["term"]: r for r in terms_facet(df, "tags", size=10).collect()}
    # duplicate 'x' within doc 0 counts once; [] and NULL are both missing
    assert out["x"]["count"] == 1 and out["y"]["count"] == 2
    assert out["x"]["missing"] == 2 and out["x"]["total"] == 3


def test_terms_vs_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["term"], r["count"], r["total"], r["other"], r["missing"])
        for r in terms_facet(ev, "event_type", size=3).collect()
    }
    con = duckdb.connect()
    want = set(
        con.sql(
            f"""
        WITH c AS (SELECT event_type AS term, count(*) AS cnt
                   FROM '{sf_dir}/events.parquet'
                   WHERE event_type IS NOT NULL GROUP BY 1),
        top AS (SELECT * FROM c ORDER BY cnt DESC, term LIMIT 3),
        s AS (SELECT sum(cnt) AS total FROM c),
        m AS (SELECT count(*) AS missing FROM '{sf_dir}/events.parquet'
              WHERE event_type IS NULL)
        SELECT term, cnt, s.total, s.total - (SELECT sum(cnt) FROM top), m.missing
        FROM top, s, m
        """
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------- statistical ----


def test_statistical_hand_computed(tiny):
    r = statistical_facet(tiny, "v").collect()[0]
    vals = [1.0, 2.0, 3.0, 5.0, 7.0, -2.6]
    n = len(vals)
    mean = sum(vals) / n
    sumsq = sum(x * x for x in vals)
    var = sumsq / n - mean * mean
    assert r["count"] == n
    assert r["total"] == round(sum(vals), 6)
    assert (r["min"], r["max"]) == (-2.6, 7.0)
    assert r["mean"] == round(mean, 6)
    assert r["sum_of_squares"] == round(sumsq, 6)
    assert r["variance"] == round(var, 6)
    assert r["std_deviation"] == round(var**0.5, 6)


def test_statistical_constant_column_no_nan(spark):
    df = spark.range(100).select(F.lit(3.0).alias("v"))
    r = statistical_facet(df, "v").collect()[0]
    assert r["variance"] == 0.0 and r["std_deviation"] == 0.0


# ------------------------------------------------------------ histogram ----


def test_histogram_counts_and_negative_floor(spark):
    df = spark.createDataFrame(
        [(x,) for x in [-0.1, 0.0, 0.9, 1.0, 2.5, -2.0]], "v double"
    )
    out = {r["key"]: r["count"] for r in histogram_facet(df, "v", 1.0).collect()}
    # floor: -0.1 → -1 (one bucket LOW, not 0); -2.0 → -2
    assert out == {-1: 1, 0: 2, 1: 1, 2: 1, -2: 1}


def test_histogram_value_stats(tiny):
    out = {
        r["key"]: r
        for r in histogram_facet(tiny, "v", 5.0, value_field="v").collect()
    }
    b0 = out[0]  # 1, 2, 3
    assert (b0["count"], b0["total_count"], b0["total"]) == (3, 3, 6.0)
    assert (b0["min"], b0["max"], b0["mean"]) == (1.0, 3.0, 2.0)
    assert out[-5]["count"] == 1  # -2.6 floors to -5


def test_histogram_vs_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["key"], r["count"], r["total"])
        for r in histogram_facet(ev, "value", 25.0, value_field="value").collect()
    }
    want = set(
        duckdb.sql(
            f"""
        SELECT (floor(value / 25.0) * 25)::BIGINT, count(*), round(sum(value), 6)
        FROM '{sf_dir}/events.parquet' WHERE value IS NOT NULL GROUP BY 1
        """
        ).fetchall()
    )
    assert got == want


# ---------------------------------------------------------------- range ----


def test_range_overlap_open_bounds_and_empty(tiny):
    out = {
        (r["range_from"], r["range_to"]): r
        for r in range_facet(
            tiny, "v", [(None, 3.0), (2.0, 7.0), (100.0, None)]
        ).collect()
    }
    lo = out[(None, 3.0)]  # -2.6, 1, 2  (3.0 excluded: half-open)
    assert (lo["count"], lo["min"], lo["max"]) == (3, -2.6, 2.0)
    mid = out[(2.0, 7.0)]  # 2, 3, 5 — overlaps with the first range
    assert (mid["count"], mid["total"]) == (3, 10.0)
    empty = out[(100.0, None)]
    assert empty["count"] == 0 and empty["min"] is None


def test_range_validation(tiny):
    with pytest.raises(ValueError):
        range_facet(tiny, "v", [])
    with pytest.raises(ValueError):
        range_facet(tiny, "v", [(None, None)])
    with pytest.raises(ValueError):
        range_facet(tiny, "v", [(5.0, 5.0)])


def test_range_value_field_vs_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["range_from"], r["range_to"], r["count"], r["total"])
        for r in range_facet(ev, "value", [(0.0, 50.0), (25.0, 300.0)]).collect()
    }
    want = set()
    for lo, hi in [(0.0, 50.0), (25.0, 300.0)]:
        row = duckdb.sql(
            f"""
            SELECT count(*), round(sum(value), 6) FROM '{sf_dir}/events.parquet'
            WHERE value >= {lo} AND value < {hi}
            """
        ).fetchone()
        want.add((lo, hi, row[0], row[1]))
    assert got == want


# ---------------------------------------------------------- terms_stats ----


def test_terms_stats_hand_computed(tiny):
    out = {r["term"]: r for r in terms_stats_facet(tiny, "k", "v", size=0).collect()}
    b = out["b"]  # docs 2 (3.0) and 3 (NULL)
    assert (b["count"], b["total_count"], b["total"]) == (2, 1, 3.0)
    assert b["missing"] == 2  # two NULL-key docs
    a = out["a"]
    assert (a["count"], a["mean"]) == (2, 1.5)


def test_terms_stats_size_and_order(tiny):
    out = terms_stats_facet(tiny, "k", "v", size=1, order="max").collect()
    assert [r["term"] for r in out] == ["c"]  # max value 5.0
    with pytest.raises(ValueError):
        terms_stats_facet(tiny, "k", "v", order="bogus")
    with pytest.raises(ValueError):
        terms_stats_facet(tiny, "k", "v", size=-1)


def test_terms_stats_vs_duckdb(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    got = {
        (r["term"], r["count"], r["total_count"], r["min"], r["max"], r["total"], r["mean"])
        for r in terms_stats_facet(ev, "event_type", "value", size=0).collect()
    }
    want = set(
        duckdb.sql(
            f"""
        SELECT event_type, count(*), count(value), round(min(value), 6),
               round(max(value), 6), round(sum(value), 6),
               round(sum(value) / count(value), 6)
        FROM '{sf_dir}/events.parquet' WHERE event_type IS NOT NULL GROUP BY 1
        """
        ).fetchall()
    )
    assert got == want


# ----------------------------------------------------------------- plans ----


def test_facet_plans_single_exchange(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    # the one wide exchange is the groupBy on the facet key; entry
    # selection must lower to TakeOrderedAndProject (no global sort)
    plan = terms_facet(ev, "event_type", size=5)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    hist = histogram_facet(ev, "value", 10.0, value_field="value")
    hp = hist._jdf.queryExecution().executedPlan().toString()
    assert hp.count("Exchange hashpartitioning") == 1
    rp = (
        range_facet(ev, "value", [(0.0, 10.0), (5.0, None)])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # membership is a per-row literal-array filter — no join for the
    # range table beyond the single-row broadcast resurrect
    assert "CartesianProduct" not in rp and "SortMergeJoin" not in rp


# ------------------------------------------------- request replay ----------


def test_core_facets_replay_full_request(spark, sf_dir):
    """A full ES request with core facets + enclosing query replays to
    the same result as the operator over the pre-filtered frame."""
    from elasticsearch_approx_plugin_spark.plans.request_parser import parse_request

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    req = {
        "query": {"range": {"value": {"gte": 10.0, "lt": 200.0}}},
        "facets": {
            "types": {"terms": {"field": "event_type", "size": 2, "order": "term"}},
            "vals": {"statistical": {"field": "value"}},
            "hist": {"histogram": {"key_field": "value", "value_field": "value",
                                   "interval": 50}},
            "rng": {"range": {"field": "value",
                              "ranges": [{"to": 50.0}, {"from": 25.0, "to": 150.0}]}},
            "ts": {"terms_stats": {"key_field": "event_type", "value_field": "value",
                                   "all_terms": True, "order": "total"}},
            "glob": {"statistical": {"field": "value"}, "global": True},
        },
    }
    specs = parse_request(req)
    filt = ev.filter((F.col("value") >= 10.0) & (F.col("value") < 200.0))
    want_types = {tuple(r) for r in terms_facet(filt, "event_type", 2, "term").collect()}
    got_types = {tuple(r) for r in specs["types"].run(ev, global_df=ev).collect()}
    assert got_types == want_types and len(got_types) == 2
    got_stat = specs["vals"].run(ev, global_df=ev).collect()[0]
    want_stat = statistical_facet(filt, "value").collect()[0]
    assert tuple(got_stat) == tuple(want_stat)
    # global facet ignores the enclosing query
    got_glob = specs["glob"].run(filt, global_df=ev).collect()[0]
    assert tuple(got_glob) == tuple(statistical_facet(ev, "value").collect()[0])
    got_ts = specs["ts"].run(ev, global_df=ev)
    assert got_ts.count() == terms_stats_facet(filt, "event_type", "value", 0).count()
    assert specs["rng"].run(ev, global_df=ev).count() == 2
    assert specs["hist"].run(ev, global_df=ev).count() > 0


def test_core_facet_parse_strictness(spark):
    from elasticsearch_approx_plugin_spark.plans.request_parser import (
        parse_core_facet,
        parse_request,
    )

    with pytest.raises(ValueError):
        parse_core_facet("terms", {"field": "x", "script": "bad"})
    with pytest.raises(ValueError):
        parse_core_facet("statistical", {})
    with pytest.raises(ValueError):
        parse_core_facet("histogram", {"field": "x"})  # no interval
    with pytest.raises(ValueError):
        parse_core_facet("range", {"field": "x", "ranges": [{"frm": 1}]})
    with pytest.raises(ValueError):
        parse_core_facet("terms_stats", {"key_field": "x"})  # no value_field
    # all_terms overrides size regardless of key order
    q = parse_core_facet("terms_stats",
                         {"key_field": "k", "value_field": "v",
                          "all_terms": True, "size": 7})
    assert q.params["size"] == 0
    with pytest.raises(ValueError):  # two facet types in one spec
        parse_request({"facets": {"f": {"terms": {"field": "x"},
                                        "statistical": {"field": "y"}}}})
    with pytest.raises(ValueError):  # mode is a term_list key
        parse_request({"facets": {"f": {"terms": {"field": "x"}, "mode": "post"}}})


def test_core_facet_alias_tables():
    """Every spelling of a facet key lowers to the same parameter; a
    missing required key, an unknown key or a non-object body raises."""
    from elasticsearch_approx_plugin_spark.plans.request_parser import (
        parse_core_facet,
        parse_request,
    )

    snake = parse_core_facet(
        "terms_stats", {"key_field": "k", "value_field": "v", "all_terms": True}
    )
    camel = parse_core_facet(
        "terms_stats", {"keyField": "k", "valueField": "v", "allTerms": True}
    )
    assert snake.params == camel.params == {"key_field": "k", "value_field": "v", "size": 0}
    rng = parse_core_facet("range", {"keyField": "x", "ranges": [{"from": 1, "to": 2}]})
    assert rng.params == {"field": "x", "ranges": [(1.0, 2.0)]}
    hist = parse_core_facet("histogram", {"field": "x", "interval": "5"})
    assert hist.params == {"key_field": "x", "interval": 5.0}
    q = parse_request({"facets": {"t": {"term_list": {"keyField": "u", "maxPerShard": "7"}}}})
    assert (q["t"].key_field, q["t"].max_per_shard) == ("u", 7)
    for kind, body in (
        ("terms", {"size": 3}),
        ("range", {"field": "x"}),
        ("range", {"field": "x", "ranges": [{"from": 1, "gt": 0}]}),
        ("histogram", "x"),
    ):
        with pytest.raises(ValueError):
            parse_core_facet(kind, body)
    with pytest.raises(ValueError):
        parse_request({"facets": {"t": {"term_list": {"maxPerShard": 7}}}})


def test_filter_and_query_facets(spark, sf_dir):
    from elasticsearch_approx_plugin_spark.plans.request_parser import parse_request

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    specs = parse_request(
        {
            "query": {"range": {"value": {"gte": 10.0, "lt": 200.0}}},
            "facets": {
                "errs": {"filter": {"term": {"event_type": "error"}}},
                "all": {"query": {"match_all": {}}},
                "glob_errs": {
                    "filter": {"term": {"event_type": "error"}},
                    "global": True,
                },
            },
        }
    )
    filt = ev.filter((F.col("value") >= 10.0) & (F.col("value") < 200.0))
    want = filt.filter(F.col("event_type") == "error").count()
    assert specs["errs"].run(ev, global_df=ev).collect()[0]["count"] == want
    assert specs["all"].run(ev, global_df=ev).collect()[0]["count"] == filt.count()
    # global ignores the enclosing query
    got_glob = specs["glob_errs"].run(filt, global_df=ev).collect()[0]["count"]
    assert got_glob == ev.filter(F.col("event_type") == "error").count()
    # nested filter facet raises (predicate is root-scope)
    nested = parse_request(
        {"facets": {"f": {"filter": {"term": {"event_type": "x"}}, "nested": "p"}}}
    )
    with pytest.raises(ValueError):
        nested["f"].run(ev, global_df=ev)
