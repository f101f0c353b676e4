"""Physical-plan quality gates — the properties that make these
operators survive 100 TB, frozen as assertions so a refactor can't
silently regress them. (Scan-level checks — PushedFilters, partition
pruning, ReadSchema — live next to their operators' tests.)"""

import importlib
import re

import pytest
from pyspark.sql import functions as F

from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_ws
from elasticsearch_approx_plugin_spark.operators import prefix
from elasticsearch_approx_plugin_spark.operators.ann import cosine_topk
from elasticsearch_approx_plugin_spark.operators.bm25 import score_queries
from elasticsearch_approx_plugin_spark.operators.dedup import dedup_exact, simhash
from elasticsearch_approx_plugin_spark.operators.postings import (
    build_index,
    read_index,
    write_index,
)
from elasticsearch_approx_plugin_spark.operators.text_analysis import (
    add_quality_features,
    lang_id,
)


def _formatted(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _simple(df):
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )


@pytest.fixture(scope="module")
def persisted_index(spark, sf_dir, tmp_path_factory):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select("doc_id", tokenize_ws("text").alias("tokens"))
    path = str(tmp_path_factory.mktemp("persisted_index"))
    write_index(build_index(toks, range_bits=9), path, n_buckets=8)
    return read_index(spark, path)


@pytest.mark.parametrize(
    "module, expand",
    [
        ("prefix", lambda m, idx: m.prefix_expand(idx, [(0, "ta"), (1, "sc")], 3)),
        (
            "wildcard",
            lambda m, idx: m.wildcard_expand(idx, [(0, "ta*le"), (1, "sc?n")], 3),
        ),
        (
            "regexp",
            lambda m, idx: m.regexp_expand(idx, [(0, "ta.le"), (1, "sc(a|u)n")], 3),
        ),
        (
            "fuzzy",
            lambda m, idx: m.fuzzy_expand(
                idx, [(0, "tabel"), (1, "scan")], 2, prefix_length=2, max_expansions=3
            ),
        ),
    ],
)
def test_expansion_anchor_pushdown(persisted_index, monkeypatch, module, expand):
    """Each expanding operator's literal anchors reach the persisted
    dictionary's parquet scan as one pushed OR of StringStartsWith (its
    LIKE / RLIKE / levenshtein match cannot be pushed), and the shared
    expansion stays JVM-side with no product."""
    mod = importlib.import_module(f"elasticsearch_approx_plugin_spark.operators.{module}")
    real, frames = prefix._expand_capped, []

    def capture(*args, **kwargs):
        frames.append(real(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(mod, "_expand_capped", capture)
    expand(mod, persisted_index)
    plan = _formatted(frames[0])
    assert "PushedFilters: [Or(StringStartsWith(term,ta),StringStartsWith(term,sc))" in plan
    for node in ("BatchEvalPython", "ArrowEvalPython", "CartesianProduct"):
        assert node not in plan


def test_dedup_exact_partial_aggregation(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _simple(dedup_exact(docs, "text", "doc_id"))
    # partial + final HashAggregate around ONE exchange; no Python
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1
    assert "InPandas" not in plan and "Python" not in plan


def test_text_analysis_stays_codegen(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (add_quality_features(docs, "text"), lang_id(docs, "text", "doc_id")):
        plan = _simple(df)
        assert "*(" in plan  # whole-stage codegen active
        assert "InPandas" not in plan and "Python" not in plan
        assert "Exchange" not in plan  # zero shuffles: pure row-local


def test_simhash_single_aggregate_exchange(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select("doc_id", tokenize_ws("text").alias("tokens"))
    plan = _simple(simhash(toks, "tokens", "doc_id"))
    # 64 conditional sums ride ONE aggregation (partial+final), one exchange
    assert plan.count("Exchange") == 1
    assert "InPandas" not in plan


def test_nested_facet_plan_shape(spark, sf_dir):
    """Nested scope must lower to a Generate (explode) pipelined into
    the facet's partial aggregation — no extra shuffle beyond the
    parent-build groupBy, the facet agg, and the chronological sort."""
    from elasticsearch_approx_plugin_spark.plans.facet_query import DateFacetQuery

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parents = ev.groupBy("user_id").agg(
        F.collect_list(F.struct("ts", "event_type")).alias("actions")
    )
    plan = _simple(
        DateFacetQuery(
            "actions.ts", "day", slice_field="actions.event_type", nested="actions"
        ).run(parents)
    )
    assert "Generate" in plan  # the explode node
    # parent agg + facet agg + orderBy range; <= (matching
    # scripts/plan_audit.py) so a Spark upgrade that coalesces an
    # exchange away is an improvement, not a failure (ADVICE r4)
    assert plan.count("Exchange") <= 3
    assert "InPandas" not in plan and "Python" not in plan


def test_cosine_topk_window_group_limit(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = [
        (r["vec_id"], list(map(float, r["embedding"])))
        for r in emb.filter("vec_id < 2").collect()
    ]
    plan = _simple(cosine_topk(emb, qs, 5))
    # Spark turns the rank<=k filter into partial+final top-k
    assert "WindowGroupLimit" in plan


def test_repetition_filter_zero_shuffle_projection(spark, sf_dir):
    from elasticsearch_approx_plugin_spark.operators.text_analysis import (
        repetition_filter,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _simple(repetition_filter(docs))
    assert "*(" in plan  # whole-stage codegen active
    assert "Exchange" not in plan  # row-local: one pruned scan at 100 TB
    assert "InPandas" not in plan and "Python" not in plan


def test_line_dedup_partial_agg_no_window(spark, sf_dir):
    """The first-occurrence winner per line must be a partial-aggregating
    min(struct(id,pos)) — a window over the line key would collapse a
    boilerplate line shared by millions of docs onto one task."""
    from elasticsearch_approx_plugin_spark.operators.dedup import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _simple(line_dedup(docs))
    assert "Window" not in plan
    assert "partial_min" in plan  # map-side combine on the digest key
    assert "partial_collect_list" in plan  # reconstruction combines map-side too
    # digest winner-agg + winner join + rebuild groupBy + final join;
    # broadcast exchanges excluded (AQE picks them at small scale)
    assert plan.count("Exchange hashpartitioning") <= 4
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "InPandas" not in plan and "Python" not in plan


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """The training side's exploded n-grams must probe a broadcast of
    the (small) eval gram set — never shuffle: at 100 TB the exploded
    training grams are the biggest relation in the whole pipeline."""
    from elasticsearch_approx_plugin_spark.operators.contamination import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = decontaminate(
        docs.filter("doc_id % 97 != 0"), docs.filter("doc_id % 97 = 0"), n=4
    )
    plan = _simple(df)
    assert "BroadcastHashJoin [gram" in plan
    # only the eval-distinct and the per-doc count shuffle
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "InPandas" not in plan and "Python" not in plan


def test_batch2_hygiene_ops_zero_shuffle(spark, sf_dir):
    from elasticsearch_approx_plugin_spark.operators.sampling import stratified_sample
    from elasticsearch_approx_plugin_spark.operators.text_analysis import (
        pii_redact,
        token_chunk,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (
        stratified_sample(docs.select("doc_id", "source"), {"src0": 1.0}),
        pii_redact(docs),
    ):
        plan = _simple(df)
        assert "Exchange" not in plan  # both fuse into one scan pass
        assert "InPandas" not in plan and "Python" not in plan
    # token_chunk: on an input that already splits, the input-skew
    # guard no-ops — the chunking adds ZERO exchanges of its own (the
    # at-scale zero-shuffle shape; the one Exchange counted below is
    # the test harness's own repartition(8) making the input "split")
    wide = docs.repartition(8)
    plan = _simple(token_chunk(wide, max_tokens=16, stride=8))
    assert plan.count("Exchange") == _simple(wide).count("Exchange")
    assert "InPandas" not in plan and "Python" not in plan
    # ... and on a 1-file input the input-skew guard is allowed exactly
    # ONE explicit round-robin spread (REPARTITION_BY_NUM) so the
    # tokenize+slice CPU does not ride a single task
    plan = _simple(token_chunk(docs, max_tokens=16, stride=8))
    assert plan.count("Exchange") <= 1
    assert "REPARTITION_BY_NUM" in plan or "Exchange" not in plan
    assert "InPandas" not in plan and "Python" not in plan


def test_bm25_scorer_exchange_is_one_wave(persisted_index):
    """Each scorer stage is as wide as the session's task slots when
    the shuffle width is larger (local[4] with 8 shuffle partitions →
    4), and stays an explicit REPARTITION_BY_NUM so AQE cannot fold
    it: by range_id for the exhaustive scorer, by query_id for WAND."""
    qs = [(0, ["hash", "join"]), (1, ["table"])]
    for prune, key in ((False, "range_id"), (True, "query_id")):
        plan = re.sub(r"#\d+L?", "", _simple(score_queries(persisted_index, qs, 10, prune=prune)))
        scorer = [ln for ln in plan.splitlines() if "REPARTITION_BY_NUM" in ln]
        assert len(scorer) == 1 and f"Exchange hashpartitioning({key}, 4)" in scorer[0]
