"""Index build + BM25 top-k vs an exact DuckDB oracle, plus the
determinism-across-parallelism property the north rule requires."""

import duckdb
import pytest
from pyspark.sql import functions as F

from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_ws
from elasticsearch_approx_plugin_spark.operators.bm25 import score_queries
from elasticsearch_approx_plugin_spark.operators.postings import (
    build_index,
    read_index,
    write_index,
)

QUERIES = [
    (0, ["hash", "join"]),
    (1, ["table"]),
    (2, ["scan", "merge", "sort"]),
    (3, ["window", "stream", "spark", "batch"]),
]
K = 10

ORACLE_BM25 = """
WITH tok AS (
  SELECT doc_id, t.term
  FROM read_parquet('{path}') , unnest(string_split_regex(text, '\\s+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM tok GROUP BY 1),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
q AS (SELECT * FROM (VALUES {qvalues}) AS q(query_id, term)),
scores AS (
  SELECT q.query_id, tf.doc_id,
         sum( ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * tf.tf * (1.2 + 1) / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM q
  JOIN tf USING (term)
  JOIN dl USING (doc_id)
  JOIN dfreq d USING (term)
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT query_id, doc_id, round(score, 6) AS score,
       row_number() OVER (PARTITION BY query_id ORDER BY round(score, 6) DESC, doc_id) AS rank
FROM scores
QUALIFY rank <= {k}
ORDER BY query_id, rank
"""


def _oracle(sf_dir, queries, k):
    qvalues = ", ".join(f"({qid}, '{t}')" for qid, ts in queries for t in set(ts))
    sql = ORACLE_BM25.format(path=f"{sf_dir}/documents.parquet", qvalues=qvalues, k=k)
    return duckdb.sql(sql).fetchall()


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", tokenize_ws("text").alias("tokens"))
    )


@pytest.fixture(scope="module")
def index(docs):
    # range_bits=6 → 64-doc ranges: exercises multi-range salting at 500 docs
    return build_index(docs, range_bits=6)


def test_dictionary_matches_oracle(index, sf_dir):
    got = {r["term"]: (r["df"], r["cf"]) for r in index.dictionary.collect()}
    exp = duckdb.sql(
        f"""
        WITH tok AS (
          SELECT doc_id, t.term
          FROM read_parquet('{sf_dir}/documents.parquet'),
               unnest(string_split_regex(text, '\\s+')) AS t(term)
          WHERE t.term <> ''
        )
        SELECT term, count(DISTINCT doc_id) AS df, count(*) AS cf FROM tok GROUP BY 1
        """
    ).fetchall()
    assert got == {t: (df, cf) for t, df, cf in exp}


def test_bm25_matches_oracle(index, sf_dir):
    got = [
        (r["query_id"], r["doc_id"], r["score"], r["rank"])
        for r in score_queries(index, QUERIES, K)
        .orderBy("query_id", "rank")
        .collect()
    ]
    exp = _oracle(sf_dir, QUERIES, K)
    assert got == exp


def test_warm_index_changes_nothing(index, spark, sf_dir):
    """warm_index (ES index-warmer analog) is pure warm-up: results
    before/after are identical, and it no-ops on an empty index."""
    from elasticsearch_approx_plugin_spark.operators.bm25 import warm_index

    before = [tuple(r) for r in score_queries(index, QUERIES, K)
              .orderBy("query_id", "rank").collect()]
    warm_index(index)
    after = [tuple(r) for r in score_queries(index, QUERIES, K)
             .orderBy("query_id", "rank").collect()]
    assert before == after
    # empty-dictionary index (build_index refuses empty input, so model
    # the post-compaction-everything-deleted shape directly)
    import dataclasses

    empty = dataclasses.replace(
        index, dictionary=index.dictionary.limit(0), term_cache={}, tomb_cache=[]
    )
    warm_index(empty)  # must not raise


def test_warm_term_cache_matches_miss_path(index):
    """Round 5: warm_index preloads the term cache (the Lucene
    memory-resident term-index analog). A batch served ENTIRELY from
    the warmed cache must equal one whose every term went through the
    miss-path dictionary collect — df and bucket must agree exactly."""
    from elasticsearch_approx_plugin_spark.operators.bm25 import warm_index

    index.term_cache.clear()
    cold = [tuple(r) for r in score_queries(index, QUERIES, K)
            .orderBy("query_id", "rank").collect()]
    miss_cache = dict(index.term_cache)
    index.term_cache.clear()
    warm_index(index)
    # every queried term present in the corpus must be warmed with the
    # same (df, bucket) the miss path computed
    for t, v in miss_cache.items():
        if v[0] > 0:
            assert index.term_cache.get(t) == v, t
    warm = [tuple(r) for r in score_queries(index, QUERIES, K)
            .orderBy("query_id", "rank").collect()]
    assert cold == warm


def test_rank_identical_across_parallelism(docs, index):
    """North rule: same docIDs + scores regardless of partitioning
    (sandbox stand-in for N vs 4N executors)."""
    reparted = build_index(docs.repartition(13), range_bits=6)
    a = score_queries(index, QUERIES, K).orderBy("query_id", "rank").collect()
    b = score_queries(reparted, QUERIES, K).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in a] == [tuple(r) for r in b]


def test_blockmax_prune_equals_exhaustive(index, sf_dir):
    """WAND-style range pruning is SAFE: identical results to the
    exhaustive path (and therefore to the oracle)."""
    pruned = [
        tuple(r)
        for r in score_queries(index, QUERIES, K, prune=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert pruned == _oracle(sf_dir, QUERIES, K)
    # k=1 tightens τ fastest — exercises the early-exit hardest
    p1 = [
        tuple(r)
        for r in score_queries(index, QUERIES, 1, prune=True)
        .orderBy("query_id", "rank")
        .collect()
    ]
    e1 = [
        tuple(r)
        for r in score_queries(index, QUERIES, 1, prune=False)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert p1 == e1


def test_write_read_resume(index, spark, tmp_path):
    path = str(tmp_path / "idx")
    m1 = write_index(index, path, n_buckets=4)
    assert set(m1["buckets"]) == {"0", "1", "2", "3"}
    # resume: a second write skips all completed buckets (manifest check)
    m2 = write_index(index, path, n_buckets=4)
    assert m2["buckets"] == m1["buckets"]
    loaded = read_index(spark, path)
    got = score_queries(loaded, QUERIES, K).orderBy("query_id", "rank").collect()
    orig = score_queries(index, QUERIES, K).orderBy("query_id", "rank").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in orig]
    assert loaded.n_docs == index.n_docs


def test_assign_doc_ids_dense_and_partitioning_invariant(spark, sf_dir):
    from elasticsearch_approx_plugin_spark.operators.postings import assign_doc_ids

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    a = assign_doc_ids(docs.drop("doc_id"), ["source", "text"], n_buckets=8)
    ids_a = sorted(r["doc_id"] for r in a.select("doc_id").collect())
    assert ids_a == list(range(docs.count()))  # dense 0..n-1
    b = assign_doc_ids(docs.drop("doc_id").repartition(11), ["source", "text"], n_buckets=8)
    map_a = {(r["source"], r["text"]): r["doc_id"] for r in a.collect()}
    map_b = {(r["source"], r["text"]): r["doc_id"] for r in b.collect()}
    assert map_a == map_b  # identical at any input partitioning
    # ids are also invariant to the bucket count (top-bit bucketing
    # realizes ONE global order: unsigned hash, then key) — so the
    # auto-scaled default can change with input size without renumbering
    c = assign_doc_ids(docs.drop("doc_id"), ["source", "text"], n_buckets=32)
    map_c = {(r["source"], r["text"]): r["doc_id"] for r in c.collect()}
    assert map_a == map_c
    d = assign_doc_ids(docs.drop("doc_id"), ["source", "text"])  # auto buckets
    map_d = {(r["source"], r["text"]): r["doc_id"] for r in d.collect()}
    assert map_a == map_d


def test_persisted_index_prunes_buckets(index, spark, tmp_path):
    from elasticsearch_approx_plugin_spark.operators.postings import write_index, read_index

    path = str(tmp_path / "idx_prune")
    write_index(index, path, n_buckets=8)
    loaded = read_index(spark, path)
    q = score_queries(loaded, [(0, ["hash", "join"])], 5)
    plan = q._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "PartitionFilters: [bucket" in plan  # bucket dirs pruned at scan
    assert q.count() > 0


def test_wand_prunes_and_matches_exhaustive_on_zipf_corpus(spark):
    """On a corpus where rare terms exist, the WAND walk must actually
    SKIP ranges (skip_rate > 0.5 with 2-rare+1-hot queries over 64
    hash ranges) while staying rank- and score-identical to the
    exhaustive path."""
    import numpy as np
    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 4000).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    ).persist()
    idx = build_index(toks, range_bits=57)  # 64 hash ranges
    idx.postings = idx.postings.persist()
    rows = (
        idx.dictionary.filter(~F.col("term").startswith("uniq_"))
        .orderBy(F.asc("df"), "term")
        .collect()
    )
    rare = [r["term"] for r in rows[:200]]
    hot = [r["term"] for r in rows[-20:]]
    rng = np.random.default_rng(5)
    qs = [
        (i, [rare[int(j)] for j in rng.integers(0, len(rare), 2)]
            + [hot[int(rng.integers(0, len(hot)))]])
        for i in range(10)
    ]
    exhaustive = sorted(tuple(r) for r in score_queries(idx, qs, 10).collect())
    st: dict = {}
    pruned = sorted(tuple(r) for r in score_queries(idx, qs, 10, prune=True, stats=st).collect())
    assert pruned == exhaustive
    assert st["skip_rate"] > 0.5, st
    toks.unpersist()
    idx.postings.unpersist()


def test_score_queries_edges_both_paths(index):
    """Unknown terms, k ≫ corpus, duplicate terms — exhaustive and
    WAND paths agree on all of them."""
    edge_queries = [
        (0, ["zzz_not_a_term"]),                 # no posting at all
        (1, ["hash", "zzz_not_a_term"]),         # partial match
        (2, ["hash", "hash", "join", "join"]),   # duplicate terms
        (3, ["table"]),
    ]
    big_k = 10_000  # k far above corpus size
    a = sorted(tuple(r) for r in score_queries(index, edge_queries, big_k).collect())
    b = sorted(
        tuple(r) for r in score_queries(index, edge_queries, big_k, prune=True).collect()
    )
    assert a == b
    qids = {r[0] for r in a}
    assert 0 not in qids          # all-unknown query yields no rows
    assert {1, 2, 3} <= qids
    # duplicate terms count once (set semantics, like the reference's
    # per-term query structure)
    single = sorted(
        tuple(r) for r in score_queries(index, [(2, ["hash", "join"])], big_k).collect()
    )
    assert single == sorted(t for t in a if t[0] == 2)


def test_wand_cost_routing(index, sf_dir):
    """A tiny wand_max_postings forces hot queries through the
    range-parallel branch; results stay identical to exhaustive."""
    exhaustive = sorted(
        tuple(r) for r in score_queries(index, QUERIES, K).collect()
    )
    st: dict = {}
    routed = sorted(
        tuple(r)
        for r in score_queries(
            index, QUERIES, K, prune=True, stats=st, wand_max_postings=50
        ).collect()
    )
    assert routed == exhaustive
    assert st["exhaustive_routed"] > 0  # hot queries actually re-routed
    # and with the default threshold everything stays on the WAND path
    st2: dict = {}
    all_wand = sorted(
        tuple(r) for r in score_queries(index, QUERIES, K, prune=True, stats=st2).collect()
    )
    assert all_wand == exhaustive
    assert st2["exhaustive_routed"] == 0


def test_append_to_index_equals_full_rebuild(spark, tmp_path):
    """Incremental ingestion: build on 2/3 of the corpus, append the
    rest — BM25 results (exhaustive AND WAND) are bit-identical to a
    full rebuild; meta/dictionary/manifest reflect the union."""
    import json as _json

    import numpy as np
    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import (
        append_to_index,
        read_index,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(spark, 3000)
    toks = corpus.select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
        F.xxhash64("commit").alias("split"),
    ).persist()
    part1 = toks.filter(F.pmod("split", F.lit(3)) != 0).drop("split")
    part2 = toks.filter(F.pmod("split", F.lit(3)) == 0).drop("split")

    full_path = str(tmp_path / "full")
    inc_path = str(tmp_path / "inc")
    write_index(build_index(toks.drop("split"), range_bits=57), full_path, n_buckets=4)
    write_index(build_index(part1, range_bits=57), inc_path, n_buckets=4)
    meta = append_to_index(spark, inc_path, part2)

    full = read_index(spark, full_path)
    inc = read_index(spark, inc_path)
    assert inc.n_docs == full.n_docs == 3000
    assert abs(inc.avgdl - full.avgdl) < 1e-9
    assert meta["bound_avgdl"] <= inc.avgdl + 1e-9

    # dictionary identical
    d_full = {r["term"]: (r["df"], r["cf"]) for r in full.dictionary.collect()}
    d_inc = {r["term"]: (r["df"], r["cf"]) for r in inc.dictionary.collect()}
    assert d_full == d_inc

    rows = (
        inc.dictionary.filter(~F.col("term").startswith("uniq_"))
        .orderBy(F.asc("df"), "term")
        .collect()
    )
    rare = [r["term"] for r in rows[:100]]
    hot = [r["term"] for r in rows[-20:]]
    rng = np.random.default_rng(3)
    qs = [
        (i, [rare[int(j)] for j in rng.integers(0, len(rare), 2)]
            + [hot[int(rng.integers(0, len(hot)))]])
        for i in range(8)
    ]
    a = sorted(tuple(r) for r in score_queries(full, qs, 10).collect())
    b = sorted(tuple(r) for r in score_queries(inc, qs, 10).collect())
    assert a == b  # exhaustive identical to full rebuild
    c = sorted(tuple(r) for r in score_queries(inc, qs, 10, prune=True).collect())
    assert c == a  # WAND safe under the scaled (bound_avgdl) bounds

    # manifest metric totals equal the full build's postings totals
    with open(f"{inc_path}/manifest.json") as f:
        man_inc = _json.load(f)
    with open(f"{full_path}/manifest.json") as f:
        man_full = _json.load(f)
    tot = lambda m, k: sum(b[k] for b in m["buckets"].values())
    assert tot(man_inc, "postings") == tot(man_full, "postings")
    toks.unpersist()


def test_append_with_avgdl_drift_keeps_wand_safe(spark, tmp_path):
    """Adversarial append: the base build holds only SHORT docs (low
    avgdl), the append adds LONG docs — corpus avgdl nearly triples, so
    the base rows' stored block-max bounds UNDERESTIMATE true tfnorms.
    ub_scale (avgdl / bound_avgdl) must widen them; WAND results still
    equal exhaustive."""
    import numpy as np
    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import (
        append_to_index,
        read_index,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 2000).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    ).persist()
    short = toks.filter(F.size("tokens") < 60)
    long_ = toks.filter(F.size("tokens") >= 60)

    path = str(tmp_path / "drift")
    write_index(build_index(short, range_bits=57), path, n_buckets=4)
    meta = append_to_index(spark, path, long_)
    idx = read_index(spark, path)
    assert idx.ub_scale > 1.5, (idx.avgdl, idx.bound_avgdl)

    rows = (
        idx.dictionary.filter(~F.col("term").startswith("uniq_"))
        .orderBy(F.asc("df"), "term")
        .collect()
    )
    rare = [r["term"] for r in rows[:100]]
    hot = [r["term"] for r in rows[-20:]]
    rng = np.random.default_rng(17)
    qs = [
        (i, [rare[int(j)] for j in rng.integers(0, len(rare), 2)]
            + [hot[int(rng.integers(0, len(hot)))]])
        for i in range(8)
    ]
    a = sorted(tuple(r) for r in score_queries(idx, qs, 10).collect())
    b = sorted(tuple(r) for r in score_queries(idx, qs, 10, prune=True).collect())
    assert a == b
    toks.unpersist()


def test_delete_tombstones_then_compact(spark, tmp_path):
    """Lucene-parity deletes: tombstoned docs vanish from results
    immediately (scores of live docs unchanged — stats stay stale,
    exactly like deleted-docs-until-merge); compact_index then
    physically removes them and results equal a full rebuild on the
    live corpus, for BOTH the exhaustive and WAND paths."""
    import numpy as np
    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import (
        compact_index,
        delete_from_index,
        read_index,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 2000).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    ).persist()
    path = str(tmp_path / "del")
    write_index(build_index(toks, range_bits=57), path, n_buckets=4)
    idx = read_index(spark, path)

    qs = [(0, ["def", "class"]), (1, ["merge", "sort", "scan"]), (2, ["import"])]
    pre = score_queries(idx, qs, 60).collect()  # deep pre-delete baseline
    # victims: every 3rd doc of each query's pre-delete top, plus one shared
    victims = sorted({r["doc_id"] for i, r in enumerate(pre) if i % 3 == 0})
    n_tomb = delete_from_index(spark, path, victims)
    assert n_tomb == len(victims)

    idx2 = read_index(spark, path)
    post = score_queries(idx2, qs, 10).collect()
    got_ids = {r["doc_id"] for r in post}
    assert got_ids.isdisjoint(victims)
    # live docs keep their PRE-delete scores; expected top-10 = deep
    # baseline minus victims, ranks renumbered
    exp = []
    for qid in (0, 1, 2):
        rows = [r for r in pre if r["query_id"] == qid and r["doc_id"] not in victims]
        exp += [
            (qid, r["doc_id"], r["score"], i + 1) for i, r in enumerate(rows[:10])
        ]
    assert sorted(tuple(r) for r in post) == sorted(exp)
    wand_post = score_queries(idx2, qs, 10, prune=True).collect()
    assert sorted(tuple(r) for r in wand_post) == sorted(exp)

    # compact: physical removal + exact stats recompute
    meta = compact_index(spark, path)
    idx3 = read_index(spark, path)
    assert idx3.tombstones is None
    assert meta["n_docs"] == 2000 - len(victims) == idx3.n_docs

    live = toks.filter(~F.col("doc_id").isin(victims))
    rebuilt = build_index(live, range_bits=57)
    assert abs(idx3.avgdl - rebuilt.avgdl) < 1e-9
    a = sorted(tuple(r) for r in score_queries(rebuilt, qs, 10).collect())
    b = sorted(tuple(r) for r in score_queries(idx3, qs, 10).collect())
    c = sorted(tuple(r) for r in score_queries(idx3, qs, 10, prune=True).collect())
    assert a == b == c
    toks.unpersist()


def test_append_idempotency_replay_overlap_empty(spark, tmp_path):
    """ADVICE r2: a replayed delta short-circuits (fingerprint), an
    overlapping delta adds only the genuinely new docs, and an empty
    delta no-ops — df/cf never inflate, docs never score twice."""
    import json as _json

    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import (
        append_to_index,
        read_index,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 1200).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
        F.pmod(F.xxhash64("commit"), F.lit(3)).alias("split"),
    ).persist()
    base = toks.filter("split != 0").drop("split")
    delta = toks.filter("split = 0").drop("split")

    path = str(tmp_path / "idem")
    write_index(build_index(base, range_bits=57), path, n_buckets=4)
    m1 = append_to_index(spark, path, delta)

    def snapshot():
        idx = read_index(spark, path)
        d = {r["term"]: (r["df"], r["cf"]) for r in idx.dictionary.collect()}
        qs = [(0, ["def", "class"]), (1, ["import", "return"])]
        res = sorted(tuple(r) for r in score_queries(idx, qs, 10).collect())
        return idx.n_docs, idx.avgdl, d, res

    snap1 = snapshot()
    # exact replay: fingerprint short-circuit, zero mutation
    m2 = append_to_index(spark, path, delta)
    assert m2 == m1
    assert snapshot() == snap1
    # overlapping delta (half old, half already-appended): per-doc
    # anti-join drops every existing id → still a no-op on the index
    overlap = delta.unionByName(base.limit(50))
    m3 = append_to_index(spark, path, overlap)
    assert m3["n_docs"] == m1["n_docs"]
    assert snapshot() == snap1
    # empty delta: clean no-op (and build_index itself raises on empty)
    m4 = append_to_index(spark, path, delta.filter("doc_id < 0"))
    assert m4["n_docs"] == m1["n_docs"]
    assert snapshot() == snap1
    with pytest.raises(ValueError, match="no documents"):
        build_index(delta.filter("doc_id < 0"), range_bits=57)
    # fingerprints recorded in the manifest
    with open(f"{path}/manifest.json") as f:
        man = _json.load(f)
    assert len(man["appends"]) >= 3
    toks.unpersist()


def test_append_pending_marker_detects_crash(spark, tmp_path):
    """A crashed append leaves _append_pending.json; the next append
    must refuse instead of compounding a half-written index."""
    import json as _json

    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import append_to_index
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 300).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    )
    path = str(tmp_path / "pend")
    write_index(build_index(toks, range_bits=57), path, n_buckets=2)
    with open(f"{path}/_append_pending.json", "w") as f:
        _json.dump({"fingerprint": "dead:beef"}, f)
    with pytest.raises(ValueError, match="crashed mid-write"):
        append_to_index(spark, path, toks)


def test_delete_then_reingest_resurrects(spark, tmp_path):
    """ADVICE r2: re-appending a tombstoned docID (hash ids are a pure
    function of the content key) resurrects it — Lucene's delete+add
    update pattern — instead of staying masked and then being silently
    compacted away."""
    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import (
        append_to_index,
        compact_index,
        delete_from_index,
        read_index,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 800).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    ).persist()
    path = str(tmp_path / "resurrect")
    write_index(build_index(toks, range_bits=57), path, n_buckets=4)

    qs = [(0, ["def", "class"]), (1, ["import", "return"])]
    before = sorted(tuple(r) for r in score_queries(read_index(spark, path), qs, 10).collect())
    victims = sorted({t[1] for t in before})[:5]
    delete_from_index(spark, path, victims)
    masked = sorted(
        tuple(r) for r in score_queries(read_index(spark, path), qs, 10).collect()
    )
    assert {t[1] for t in masked}.isdisjoint(victims)

    # re-ingest the SAME docs (same ids): tombstones clear, postings
    # (never physically removed) become visible — results equal the
    # pre-delete state exactly
    revived = toks.filter(F.col("doc_id").isin(victims))
    append_to_index(spark, path, revived)
    idx = read_index(spark, path)
    assert idx.tombstones is None or idx.tombstones.count() == 0
    after = sorted(tuple(r) for r in score_queries(idx, qs, 10).collect())
    assert after == before
    # and a compact after the resurrect must NOT remove them
    compact_index(spark, path)
    idx2 = read_index(spark, path)
    assert idx2.n_docs == 800
    assert sorted(tuple(r) for r in score_queries(idx2, qs, 10).collect()) == before
    toks.unpersist()


def test_compact_join_path_million_tombstones(spark, tmp_path, monkeypatch):
    """VERDICT r2 #7: above the broadcast threshold, compaction masks
    via a per-range JOIN — no driver materialization. ~10^6 tombstones
    (a handful real victims, the rest absent ids) compact to the same
    index a rebuild on the live corpus gives."""
    from pyspark.sql import functions as F

    import elasticsearch_approx_plugin_spark.operators.postings as P
    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import (
        compact_index,
        delete_from_index,
        read_index,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 800).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    ).persist()
    path = str(tmp_path / "bigtomb")
    write_index(build_index(toks, range_bits=57), path, n_buckets=4)

    victims = [r["doc_id"] for r in toks.limit(40).collect()][:20]
    delete_from_index(spark, path, spark.createDataFrame(
        [(v,) for v in victims], "doc_id long"
    ))
    # ~10^6 absent ids (doc ids are 63-bit hashes; small ints never collide)
    delete_from_index(
        spark, path, spark.range(1_000_000).select(F.col("id").alias("doc_id"))
    )
    monkeypatch.setattr(P, "COMPACT_BROADCAST_MAX_TOMBSTONES", 1000)
    meta = compact_index(spark, path)
    assert meta["n_docs"] == 800 - len(victims)

    idx = read_index(spark, path)
    live = toks.filter(~F.col("doc_id").isin(victims))
    rebuilt = build_index(live, range_bits=57)
    qs = [(0, ["def", "class"]), (1, ["import", "return"]), (2, ["merge", "sort"])]
    a = sorted(tuple(r) for r in score_queries(rebuilt, qs, 10).collect())
    b = sorted(tuple(r) for r in score_queries(idx, qs, 10).collect())
    assert a == b
    d_re = {r["term"]: (r["df"], r["cf"]) for r in rebuilt.dictionary.collect()}
    d_cp = {r["term"]: (r["df"], r["cf"]) for r in idx.dictionary.collect()}
    assert d_re == d_cp
    toks.unpersist()


def test_lifecycle_fuzz_crud_sequence(spark, tmp_path):
    """Randomized CRUD sequence (append / delete / resurrect-append /
    replay / compact) with a Python-side model of the live set; at
    every point where semantics are exact (no outstanding tombstones),
    BM25 results AND the dictionary must equal a fresh rebuild on the
    modeled live corpus."""
    import numpy as np
    from pyspark.sql import functions as F

    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_code
    from elasticsearch_approx_plugin_spark.operators.postings import (
        append_to_index,
        compact_index,
        delete_from_index,
        read_index,
    )
    from elasticsearch_approx_plugin_spark.sources.corpus import generate_corpus

    toks = generate_corpus(spark, 1500).select(
        F.xxhash64("repo", "path", "commit")
        .bitwiseAND(F.lit((1 << 63) - 1))
        .alias("doc_id"),
        tokenize_code("content").alias("tokens"),
    ).persist()
    all_ids = sorted(r["doc_id"] for r in toks.select("doc_id").collect())
    rng = np.random.default_rng(123)

    path = str(tmp_path / "fuzz")
    base = set(all_ids[:600])
    write_index(
        build_index(toks.filter(F.col("doc_id").isin(list(base))), range_bits=57),
        path, n_buckets=4,
    )
    live, unused, tombs = set(base), set(all_ids[600:]), set()
    qs = [(0, ["def", "class"]), (1, ["import", "return"]), (2, ["merge", "sort", "scan"])]

    def check():
        idx = read_index(spark, path)
        ref = build_index(toks.filter(F.col("doc_id").isin(list(live))), range_bits=57)
        a = sorted(tuple(r) for r in score_queries(idx, qs, 10).collect())
        b = sorted(tuple(r) for r in score_queries(ref, qs, 10).collect())
        assert a == b
        c = sorted(tuple(r) for r in score_queries(idx, qs, 10, prune=True).collect())
        assert c == a
        d_i = {r["term"]: (r["df"], r["cf"]) for r in idx.dictionary.collect()}
        d_r = {r["term"]: (r["df"], r["cf"]) for r in ref.dictionary.collect()}
        assert d_i == d_r

    # op 1: append 300 fresh docs
    batch = set(rng.choice(sorted(unused), 300, replace=False).tolist())
    append_to_index(spark, path, toks.filter(F.col("doc_id").isin(list(batch))))
    live |= batch
    unused -= batch
    check()

    # op 2: delete 80 docs, then resurrect 30 of them via re-append
    victims = set(rng.choice(sorted(live), 80, replace=False).tolist())
    delete_from_index(spark, path, sorted(victims))
    tombs |= victims
    revive = set(sorted(victims)[:30])
    append_to_index(spark, path, toks.filter(F.col("doc_id").isin(list(revive))))
    tombs -= revive

    # op 3: replay op 1 exactly — a recognized replay short-circuits
    # the merge (no postings work), but tombstone RESURRECTION still
    # runs first (ADVICE r3): re-ingesting a batch after deleting some
    # of its docs brings them back — the same delete+add semantics as a
    # fresh overlap append, fingerprint match or not
    append_to_index(spark, path, toks.filter(F.col("doc_id").isin(list(batch))))
    tombs -= batch  # tombstoned members of the replayed delta resurrect
    # ...then an overlapping append: only the 40 genuinely-new docs
    # index, but any TOMBSTONED id in the delta resurrects (delete+add)
    mix = set(list(sorted(batch))[:50]) | set(sorted(unused)[:40])
    append_to_index(spark, path, toks.filter(F.col("doc_id").isin(list(mix))))
    live |= set(sorted(unused)[:40])
    unused -= set(sorted(unused)[:40])
    tombs -= mix  # resurrected by the overlap append

    # op 4: compact — removes the 50 still-tombstoned docs physically
    compact_index(spark, path)
    live -= tombs
    tombs = set()
    check()

    # op 5: append once more after the compact
    batch2 = set(rng.choice(sorted(unused), 100, replace=False).tolist())
    append_to_index(spark, path, toks.filter(F.col("doc_id").isin(list(batch2))))
    live |= batch2
    check()
    toks.unpersist()


# --- minimum_should_match (ES bool-should semantics) -----------------------

MSM_ORACLE = ORACLE_BM25.replace(
    "q AS (SELECT * FROM (VALUES {qvalues}) AS q(query_id, term)),",
    "q AS (SELECT * FROM (VALUES {qvalues}) AS q(query_id, term)),\n"
    "mq AS (SELECT * FROM (VALUES {mvalues}) AS mq(query_id, m)),",
).replace(
    "  FROM q\n  JOIN tf USING (term)",
    "  FROM q\n  JOIN mq USING (query_id)\n  JOIN tf USING (term)",
).replace(
    "CROSS JOIN stats s\n  GROUP BY 1, 2",
    "CROSS JOIN stats s\n  GROUP BY 1, 2 HAVING count(*) >= max(mq.m)",
)

MSM_QUERIES = [
    (0, ["dup", "row"], 2),        # rare term: AND bites hard (~26 docs)
    (1, ["hash", "join", "sort"], 2),
    (2, ["table", "stream"], 1),   # m=1 == plain OR
    (3, ["dup", "zzz"], 2),        # unknown term can never satisfy m=2
]


def _msm_oracle(sf_dir, queries, k):
    qvalues = ", ".join(f"({qid}, '{t}')" for qid, ts, _ in queries for t in set(ts))
    mvalues = ", ".join(f"({qid}, {m})" for qid, _, m in queries)
    sql = MSM_ORACLE.format(
        path=f"{sf_dir}/documents.parquet", qvalues=qvalues, mvalues=mvalues, k=k
    )
    return duckdb.sql(sql).fetchall()


def test_msm_matches_oracle_and_query3_empty(index, sf_dir):
    from elasticsearch_approx_plugin_spark.operators.bm25 import bool_should_topk

    res = bool_should_topk(index, MSM_QUERIES, K).orderBy("query_id", "rank")
    got = [(r["query_id"], r["doc_id"], r["score"], r["rank"]) for r in res.collect()]
    assert got == _msm_oracle(sf_dir, MSM_QUERIES, K)
    assert not any(qid == 3 for qid, *_ in got)  # unknown term: m unreachable
    assert any(qid == 0 for qid, *_ in got)


def test_msm_all_terms_is_and(index, docs, sf_dir):
    from elasticsearch_approx_plugin_spark.operators.bm25 import bool_should_topk

    terms = ["dup", "row", "hash"]
    got_ids = {
        r["doc_id"]
        for r in bool_should_topk(index, [(0, terms, 3)], 10_000).collect()
    }
    want_ids = {
        r["doc_id"]
        for r in docs.filter(
            F.forall(F.array(*[F.lit(t) for t in terms]), lambda t: F.array_contains("tokens", t))
        ).collect()
    }
    assert got_ids == want_ids and got_ids


def test_msm_prune_routes_exhaustive_and_matches(index):
    from elasticsearch_approx_plugin_spark.operators.bm25 import bool_should_topk

    stats = {}
    pruned = bool_should_topk(index, MSM_QUERIES, K, prune=True)
    plain = bool_should_topk(index, MSM_QUERIES, K, prune=False)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, plain.collect()))
    # m>1 queries must take the exhaustive branch under prune
    _ = score_queries(
        index,
        [(qid, ts) for qid, ts, _ in MSM_QUERIES],
        K,
        prune=True,
        stats=stats,
        minimum_should_match={qid: m for qid, _, m in MSM_QUERIES},
    ).collect()
    assert stats["exhaustive_routed"] == 3 and stats["wand_routed"] == 1


def test_msm_one_equals_plain_or(index):
    a = score_queries(index, QUERIES, K, minimum_should_match=1)
    b = score_queries(index, QUERIES, K)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_msm_validation(index):
    from elasticsearch_approx_plugin_spark.operators.bm25 import bool_should_topk

    with pytest.raises(ValueError):
        bool_should_topk(index, [(0, ["hash"], 0)])
    with pytest.raises(ValueError):
        score_queries(index, QUERIES, K, minimum_should_match=0)


def test_task_slots_follow_the_master(spark):
    """task_slots reads the local master's threads, not
    default.parallelism (floored by get_spark at 4 tasks per core)."""
    import os

    from elasticsearch_approx_plugin_spark.session import _local_slots, task_slots

    assert task_slots(spark) == 4 < spark.sparkContext.defaultParallelism
    masters = ("local", "local[3]", "local[*]", "spark://host:7077")
    assert [_local_slots(m) for m in masters] == [1, 3, os.cpu_count(), None]


def test_scorer_width_does_not_change_results(index):
    """Scorer stages are min(shuffle partitions, task slots) wide:
    shuffle partitions 1, 3 and 8 (widths 1, 3 and 4 on local[4]) give
    the same rows on the exhaustive and the WAND path."""
    spark = index.postings.sparkSession
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    runs = []
    try:
        for n in ("1", "3", "8"):
            spark.conf.set(conf, n)
            for prune in (False, True):
                df = score_queries(index, QUERIES, K, prune=prune)
                runs.append(sorted(tuple(r) for r in df.collect()))
    finally:
        spark.conf.set(conf, old)
    assert runs[0] and all(r == runs[0] for r in runs)


def test_query_table_follows_term_order(index, monkeypatch):
    """The broadcast query table lists each query's distinct terms in
    first-occurrence order, so its literal (and the plan text) does not
    depend on the process's string-hash seed."""
    from elasticsearch_approx_plugin_spark.operators import bm25

    terms = [r["term"] for r in index.dictionary.orderBy("term").limit(6).collect()]
    query = terms[::-1] + terms[2:4] + terms[:1]
    seen = []

    class Captured(Exception):
        pass

    def capture(spark, rows, schema):
        seen.append(rows)
        raise Captured

    monkeypatch.setattr(bm25, "small_df", capture)
    with pytest.raises(Captured):
        bm25.score_queries(index, [(0, query), (1, terms[1:2])], K)
    assert [(q, t) for q, t, _ in seen[0]] == [(0, t) for t in terms[::-1]] + [
        (1, terms[1])
    ]


def test_all_tombstoned_term_scores_nothing(spark, tmp_path):
    """A term whose every document is deleted: both scorers return no
    rows for it (no int64 ``score`` from an empty sum failing the
    stage), the other terms of the batch still score, and warm_index
    probing that term does not raise."""
    import dataclasses

    from elasticsearch_approx_plugin_spark.operators.bm25 import warm_index
    from elasticsearch_approx_plugin_spark.operators.postings import delete_from_index

    rows = [(1, "alpha beta"), (2, "beta gamma"), (3, "gamma solitary")]
    toks = spark.createDataFrame(rows, "doc_id long, text string").select(
        "doc_id", tokenize_ws("text").alias("tokens")
    )
    path = str(tmp_path / "idx")
    write_index(build_index(toks, range_bits=6), path, n_buckets=2)
    delete_from_index(spark, path, [3])
    idx = read_index(spark, path)
    for prune in (False, True):
        assert score_queries(idx, [(0, ["solitary"])], K, prune=prune).count() == 0
        got = score_queries(idx, [(0, ["solitary"]), (1, ["gamma"])], K, prune=prune)
        assert [(r["query_id"], r["doc_id"]) for r in got.collect()] == [(1, 2)]
    probe = dataclasses.replace(
        idx,
        dictionary=idx.dictionary.filter(F.col("term") == "solitary"),
        term_cache={},
        tomb_cache=[],
    )
    warm_index(probe)


# -- Spark-free scorer bodies: the applyInArrow functions called directly --

_K1, _B, _AVGDL, _BITS = 1.2, 0.75, 40.0, 8
_GROUP_SCHEMA = (
    ("term", "string"), ("range_id", "int64"), ("df_part", "int64"),
    ("cf_part", "int64"), ("max_tfnorm", "float64"), ("doc_ids", "binary"),
    ("tfs", "binary"), ("dls", "binary"), ("query_id", "int64"), ("idf", "float64"),
)


def _tfnorm(tf, dl):
    return (tf * (_K1 + 1.0)) / (tf + _K1 * (1.0 - _B + _B * dl / _AVGDL))


def _posting_row(term, rid, docs, tfs, dls, max_tfnorm=None):
    import numpy as np

    from elasticsearch_approx_plugin_spark.functions.varint import (
        delta_varint_encode,
        varint_encode,
    )

    tfs, dls = np.asarray(tfs, dtype=np.uint64), np.asarray(dls, dtype=np.uint64)
    if max_tfnorm is None:
        max_tfnorm = float(_tfnorm(tfs.astype(float), dls.astype(float)).max())
    return {
        "term": term, "range_id": rid, "df_part": len(docs),
        "cf_part": int(tfs.sum()), "max_tfnorm": max_tfnorm,
        "doc_ids": delta_varint_encode(np.asarray(docs, dtype=np.uint64)),
        "tfs": varint_encode(tfs), "dls": varint_encode(dls),
    }


def _group_table(rows):
    import pyarrow as pa

    schema = pa.schema([(n, pa.type_for_alias(t)) for n, t in _GROUP_SCHEMA])
    return pa.Table.from_pylist(rows, schema=schema)


def _random_batch(seed):
    """A seeded query batch joined to its posting rows, in arbitrary
    arrival order: Zipf row lengths, a small vocabulary so terms repeat
    across queries, per-range tombstones and msm > 1 on some queries."""
    import numpy as np

    rng = np.random.default_rng(seed)
    vocab = [f"w{i:02d}" for i in range(25)]
    postings = {}
    for rid in range(4):
        for t in vocab:
            if rng.random() < 0.35:
                continue
            df = int(min(rng.zipf(1.4), 1 << _BITS))
            docs = np.sort(rng.choice(1 << _BITS, df, replace=False)) + (rid << _BITS)
            tfs = rng.zipf(2.0, df).clip(1, 40)
            postings[(t, rid)] = _posting_row(t, rid, docs, tfs, rng.integers(3, 120, df))
    idf = {t: float(rng.uniform(0.05, 6.0)) for t in vocab}
    queries = {q: sorted(set(rng.choice(vocab, rng.integers(1, 5)).tolist())) for q in range(30)}
    rows = [
        {**postings[(t, rid)], "query_id": q, "idf": idf[t]}
        for q, ts in queries.items() for t in ts for rid in range(4) if (t, rid) in postings
    ]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    tomb = {
        rid: np.sort(rng.choice(1 << _BITS, 40, replace=False) + (rid << _BITS)).astype(np.int64)
        for rid in range(4)
    }
    msm = {q: 2 for q in queries if q % 3 == 0}
    return _group_table(rows), tomb, msm


def _reference_scores(tbl, tomb, msm):
    """(query, doc) → score the slow way: Python floats per posting,
    summed in sorted-term order, rounded like the scorers."""
    import numpy as np

    from elasticsearch_approx_plugin_spark.functions.varint import (
        delta_varint_decode,
        varint_decode,
    )

    acc = {}
    for r in sorted(tbl.to_pylist(), key=lambda r: (r["query_id"], r["term"])):
        dead = set(tomb.get(r["range_id"], np.empty(0)).tolist())
        for d, tf, dl in zip(
            delta_varint_decode(r["doc_ids"]).tolist(),
            varint_decode(r["tfs"]).tolist(),
            varint_decode(r["dls"]).tolist(),
        ):
            if d not in dead:
                s, n = acc.get((r["query_id"], d), (0.0, 0))
                acc[(r["query_id"], d)] = (s + r["idf"] * _tfnorm(float(tf), float(dl)), n + 1)
    return {
        key: float(np.round(s, 6)) for key, (s, n) in acc.items() if n >= msm.get(key[0], 1)
    }


def _groups(tbl, key):
    import numpy as np

    col = tbl[key].to_numpy()
    return [tbl.take(np.flatnonzero(col == g)) for g in np.unique(col)]


def _global_topk(rows, k):
    """query → [(doc, score)] top-k by (score desc, doc asc)."""
    by_q = {}
    for q, d, s in rows:
        by_q.setdefault(q, []).append((d, s))
    return {q: sorted(v, key=lambda x: (-x[1], x[0]))[:k] for q, v in by_q.items()}


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_scorer_bodies_equal_reference_and_each_other(seed):
    """Exhaustive range-group body and WAND query-group body give ==
    scores (not approx) for the same docs, both equal to a per-posting
    reference — with tombstones, repeated terms and msm > 1."""
    import types

    from elasticsearch_approx_plugin_spark.operators.bm25 import (
        _make_scorer,
        _make_wand_scorer,
    )

    tbl, tomb, msm = _random_batch(seed)
    tomb_b = types.SimpleNamespace(value=tomb)
    k = 5

    def exhaustive(m):
        body = _make_scorer(_K1, _B, _AVGDL, k, tomb_b, m or None)
        return [
            r for g in _groups(tbl, "range_id") for r in zip(*body(g).to_pydict().values())
        ]

    for m in ({}, msm):
        ref = _reference_scores(tbl, tomb, m)
        out = exhaustive(m)
        assert out and all(ref[(q, d)] == s for q, d, s in out)
        assert _global_topk(out, k) == _global_topk(
            [(q, d, s) for (q, d), s in ref.items()], k
        )
    plain = _global_topk(exhaustive({}), k)
    wand = _make_wand_scorer(_K1, _B, _AVGDL, k, 1.0, tomb_b)
    for g in _groups(tbl, "query_id"):
        got = wand(g).to_pydict()
        q = g["query_id"][0].as_py()
        assert list(zip(got["doc_id"], got["score"])) == plain.get(q, [])


def test_wand_never_decodes_a_skipped_range():
    """A posting row with a corrupt ``tfs`` blob in a range whose bound
    falls below τ: the WAND walk stops before it (no decode, no error);
    the exhaustive body, which decodes every row, raises."""
    from elasticsearch_approx_plugin_spark.operators.bm25 import (
        _make_scorer,
        _make_wand_scorer,
    )

    strong = _posting_row("hot", 0, [1, 2, 3, 4], [9, 8, 7, 6], [10, 10, 10, 10])
    weak = _posting_row("hot", 1, [300, 301], [1, 1], [90, 90], max_tfnorm=0.01)
    weak["tfs"] = weak["tfs"][:1]  # one varint short
    tbl = _group_table(
        [{**strong, "query_id": 7, "idf": 2.0}, {**weak, "query_id": 7, "idf": 2.0}]
    )
    got = _make_wand_scorer(_K1, _B, _AVGDL, 2)(tbl).to_pydict()
    assert got["doc_id"] == [1, 2]
    assert set(got["ranges_total"]) == {2} and set(got["ranges_scored"]) == {1}
    with pytest.raises(ValueError):
        _make_scorer(_K1, _B, _AVGDL, 2)(tbl.slice(1, 1))


def test_accumulate_wide_doc_span():
    """Doc ids spread so wide that the (query rank, doc) int64 sort key
    would overflow take the two-key sort instead, with the same sums."""
    import numpy as np

    from elasticsearch_approx_plugin_spark.operators.bm25 import _accumulate

    ids = np.array([1, 3, 1, 2], dtype=np.int64)
    tfnorm, offs = np.array([0.5, 0.25, 1.0, 0.125]), np.array([0, 2, 4])
    rows, qids, idf = np.array([0, 1, 0]), np.array([4, 4, 9]), np.array([1.0, 2.0, 3.0])
    q, docs, scores, n = _accumulate(ids, tfnorm, offs, rows, qids, idf)
    assert q.tolist() == [4, 4, 4, 9, 9] and docs.tolist() == [1, 2, 3, 1, 3]
    assert scores.tolist() == [2.5, 0.25, 0.25, 1.5, 0.75] and n.tolist() == [2, 1, 1, 1, 1]
    wide = _accumulate(ids << 61, tfnorm, offs, rows, qids, idf)
    assert wide[1].tolist() == (docs << 61).tolist()
    for got, want in zip((wide[0], wide[2], wide[3]), (q, scores, n)):
        assert got.tolist() == want.tolist()


def test_scorer_bodies_all_tombstoned_row():
    """A posting row whose only doc is tombstoned: both bodies return
    no rows and a float64 ``score`` column."""
    import types

    import numpy as np
    import pyarrow as pa

    from elasticsearch_approx_plugin_spark.operators.bm25 import (
        _make_scorer,
        _make_wand_scorer,
    )

    row = _posting_row("gone", 0, [5], [2], [10])
    tbl = _group_table([{**row, "query_id": 3, "idf": 1.5}])
    tomb_b = types.SimpleNamespace(value={0: np.array([5], dtype=np.int64)})
    for body in (
        _make_scorer(_K1, _B, _AVGDL, 2, tomb_b),
        _make_wand_scorer(_K1, _B, _AVGDL, 2, 1.0, tomb_b),
    ):
        out = body(tbl)
        assert out.num_rows == 0
        assert out.schema.field("score").type == pa.float64()
