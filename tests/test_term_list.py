"""Term list facet vs exact oracles (TermListFacetTest analog:
exhaustive = exact distinct set, sampling ⊆ truth, numeric decode,
post mode = collector mode on exhaustive runs, sample rejected in
post mode)."""

import duckdb
import pytest

from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_ws
from elasticsearch_approx_plugin_spark.operators.postings import build_index
from elasticsearch_approx_plugin_spark.operators.term_list import term_list


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _truth_terms(sf_dir):
    return {
        r[0]
        for r in duckdb.sql(
            f"""SELECT DISTINCT t.term
                FROM read_parquet('{sf_dir}/documents.parquet'),
                     unnest(string_split_regex(text, '\\s+')) AS t(term)
                WHERE t.term <> ''"""
        ).fetchall()
    }


def test_exhaustive_equals_truth(docs, sf_dir):
    toks = docs.select(tokenize_ws("text").alias("toks"))
    got = {r["term"] for r in term_list(toks, "toks", max_per_partition=10**6).collect()}
    assert got == _truth_terms(sf_dir)


def test_scalar_column_and_numeric_decode(docs, sf_dir):
    got = {r["term"] for r in term_list(docs, "source").collect()}
    exp = {r[0] for r in duckdb.sql(
        f"SELECT DISTINCT source FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()}
    assert got == exp
    # numeric column round-trips through string decode (BytesRefUtils analog)
    nums = {r["term"] for r in term_list(docs, "n_chars").collect()}
    assert all(n.isdigit() for n in nums)
    exp_n = {str(r[0]) for r in duckdb.sql(
        f"SELECT DISTINCT n_chars FROM read_parquet('{sf_dir}/documents.parquet')"
    ).fetchall()}
    assert nums == exp_n


def test_sample_is_subset(docs, sf_dir):
    toks = docs.select(tokenize_ws("text").alias("toks"))
    sampled = {r["term"] for r in term_list(toks, "toks", sample=0.3, seed=0).collect()}
    truth = _truth_terms(sf_dir)
    assert sampled and sampled <= truth


def test_per_partition_cap(docs):
    toks = docs.select(tokenize_ws("text").alias("toks")).repartition(4)
    capped = term_list(toks, "toks", max_per_partition=5).collect()
    assert 0 < len(capped) <= 4 * 5


def test_post_mode_equals_collector_exhaustive(docs, sf_dir):
    toks = docs.select("doc_id", tokenize_ws("text").alias("tokens"))
    idx = build_index(toks, range_bits=6)
    post = {r["term"] for r in term_list(docs, "text", mode="post", dictionary=idx.dictionary).collect()}
    assert post == _truth_terms(sf_dir)


def test_post_mode_rejects_sample(docs):
    with pytest.raises(ValueError):
        term_list(docs, "text", mode="post", sample=0.5, dictionary=None)


def test_sample_validation(docs):
    with pytest.raises(ValueError):
        term_list(docs, "text", sample=0.0)
    with pytest.raises(ValueError):
        term_list(docs, "text", sample=1.5)


def test_term_list_post_visible_docs_only(spark):
    """Post mode with a filtered corpus keeps ONLY terms with >=1
    visible matching doc (TermListFacetExecutor.java:158-199) — the
    synthetic corpus's per-doc uniq_* terms make the difference
    observable. Tombstoned docs are not visible."""
    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import build_index
    from elasticsearch_approx_plugin_spark.operators.term_list import (
        term_list,
        term_list_post,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 600).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    ).persist()
    idx = build_index(toks, range_bits=57)
    idx.postings = idx.postings.persist()

    matching = toks.filter(F.pmod("doc_id", F.lit(5)) == 0).select("doc_id")
    got = {r["term"] for r in term_list_post(idx, matching).collect()}
    exp = {
        r["term"]
        for r in toks.join(matching, "doc_id", "left_semi")
        .select(F.explode("tokens").alias("term"))
        .distinct()
        .collect()
    }
    assert got == exp
    full = {r["term"] for r in term_list_post(idx).collect()}
    assert got < full  # filtered corpus really restricts the list
    # API parity through term_list(mode="post", index=...)
    via_mode = {
        r["term"]
        for r in term_list(
            toks, "tokens", mode="post", index=idx, matching_ids=matching
        ).collect()
    }
    assert via_mode == exp

    # tombstoned docs are invisible to post mode
    victims = matching.orderBy("doc_id").limit(3)
    idx.tombstones = victims
    got2 = {r["term"] for r in term_list_post(idx, matching).collect()}
    exp2 = {
        r["term"]
        for r in toks.join(matching, "doc_id", "left_semi")
        .join(victims, "doc_id", "left_anti")
        .select(F.explode("tokens").alias("term"))
        .distinct()
        .collect()
    }
    assert got2 == exp2

    # cogroup fallback (match set "too large" to broadcast — forced via
    # broadcast_max_ids=0) returns the identical term set: the scale
    # path and the broadcast fast path are result-equal (ADVICE r4)
    got3 = {
        r["term"]
        for r in term_list_post(idx, matching, broadcast_max_ids=0).collect()
    }
    assert got3 == exp2  # tombstones still set from the block above
    idx.tombstones = None
    got4 = {
        r["term"]
        for r in term_list_post(idx, matching, broadcast_max_ids=0).collect()
    }
    assert got4 == exp
    idx.postings.unpersist()
    toks.unpersist()


def test_capped_partition_drains_its_input():
    """Past the cap the per-partition pass still reads every batch (a
    Python worker left with unread input is not reused), and the cut
    stays the first-seen one."""
    import pandas as pd

    from elasticsearch_approx_plugin_spark.operators.term_list import (
        _cap_partition_distinct,
    )

    batches = [["b", "a", "b"], ["c", "a", "d"], ["e"], ["f", "g"]]
    consumed = []

    def feed():
        for i, terms in enumerate(batches):
            consumed.append(i)
            yield pd.DataFrame({"term": terms})

    out = list(_cap_partition_distinct(3)(feed()))
    assert consumed == [0, 1, 2, 3]
    assert [list(o["term"]) for o in out] == [["a", "b", "c"]]
