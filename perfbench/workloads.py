"""The two closed-loop workloads: ``search`` and ``facets``.

One client thread sends a request only after the previous one
returned. Set-up covers the session, the inputs, the index build and
an untimed warm-up of the same request shapes; the timed phase then
runs whole rounds until ``--seconds`` have passed. Every result is
checked against :mod:`oracle`, outside the timed call.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import numpy as np

from . import inputs, oracle
from .trace import Tracer

# warm-up before timing: measured on 4 cores, the first rounds after
# set-up pay JIT/codegen (facets: a 20 s body, then 12.5 s, then 10 s;
# `_search` settles within one or two requests after the exhaustive
# batch). Every run starts its timed phase at the same point of that
# curve; more warm-up would not fit the time a full evaluation may take.
SEARCH_WARM_REQUESTS = 1
FACETS_WARM_BODIES = 1
SEARCH_ROUND_REQUESTS = len(inputs.REQUESTS)


class Run:
    """Timings, counts and check failures of one benchmark run."""

    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float, data_dir: str):
        self.spark, self.tracer, self.seconds, self.data = spark, tracer, seconds, data_dir
        self.seed = seed
        self.rng = np.random.default_rng([seed, 4])
        self.requests: list[list] = []  # the spans of each timed request
        self.work: list = []  # timed spans that did the counted units
        self.units = 0
        self.attempted = 0
        self.failed = 0
        self.check_failures: list[str] = []
        self.details: dict = {}
        self.t_timed = None  # start of the timed phase

    @property
    def timed(self) -> bool:
        return self.t_timed is not None

    def start_timed(self) -> None:
        self.t_timed = time.time()

    def role(self) -> str:
        return "timed" if self.timed else "setup"

    def op(self, name: str, fn, *args, collect: bool = True, **kwargs):
        """One operation: counted, timed, and isolated from the next on
        failure (its error is reported and the run goes on)."""
        if self.timed:
            self.attempted += 1
        try:
            return self.tracer.call(name, self.role(), fn, *args, collect=collect, **kwargs)
        except Exception as e:  # a failing operation must not end the run
            if not self.timed:
                raise
            self.failed += 1
            print(f"perfbench: {name} failed: {type(e).__name__}: {e}", file=sys.stderr)
            return None, None

    def check(self, fn, *args, **kwargs) -> None:
        try:
            fn(*args, **kwargs)
        except oracle.CheckFailed as e:
            self.check_failures.append(str(e))
            print(f"perfbench: check failed: {e}", file=sys.stderr)

    def request(self, spans) -> None:
        """Count timed spans as one request: one latency and CPU sample."""
        spans = [sp for sp in spans if sp is not None]
        if self.timed and spans:
            self.requests.append(spans)

    def did(self, sp, units: int) -> None:
        """Count a timed span as ``units`` of work, for throughput."""
        if self.timed and sp is not None:
            self.work.append(sp)
            self.units += units

    @property
    def request_wall(self) -> list[float]:
        return [sum(sp.t1 - sp.t0 for sp in r) for r in self.requests]

    @property
    def request_cpu(self) -> list[float]:
        return [sum(sp.cpu_s for sp in r) for r in self.requests]

    def metrics(self) -> dict[str, float]:
        return {
            "request_cpu_s": statistics.fmean(self.request_cpu),
            "throughput_per_cpu_s": self.units / sum(sp.cpu_s for sp in self.work),
        }

    def throughput_per_s(self) -> float:
        return self.units / sum(sp.t1 - sp.t0 for sp in self.work)


def _dir_files_mb(path: str) -> tuple[int, float]:
    n, size = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size / 1e6


def _dictionary_df(path: str, terms: list[str]) -> dict[str, int]:
    import pyarrow.parquet as pq

    tbl = pq.read_table(os.path.join(path, "dictionary"), columns=["term", "df"]).to_pydict()
    df = dict(zip(tbl["term"], tbl["df"]))
    return {t: int(df.get(t, 0)) for t in terms}


# -- search -----------------------------------------------------------------


def search(run: Run) -> None:
    from elasticsearch_approx_plugin_spark.functions.tokenize import tokenize_ws
    from elasticsearch_approx_plugin_spark.operators import bm25, postings
    from elasticsearch_approx_plugin_spark.plans.search import search_topk
    from elasticsearch_approx_plugin_spark.sources.corpus import with_sha_enforced
    from elasticsearch_approx_plugin_spark.sources.tables import load_table

    spark, data = run.spark, run.data
    n_all = inputs.N_FILES
    corpus = inputs.Corpus(run.seed)
    corpus.write(os.path.join(data, "corpus.parquet"), 4)

    # the sha256 invariant rides the build's scan: a mismatching row
    # fails the build
    docs, _ = run.op(
        "sources.with_sha_enforced",
        lambda: with_sha_enforced(load_table(spark, data, "corpus")).select(
            "doc_id", tokenize_ws("content").alias("tokens")
        ),
        collect=False,
    )
    path = os.path.join(data, "index")

    def build():
        return postings.write_index(postings.build_index(docs, range_bits=inputs.RANGE_BITS), path)

    _, sp = run.op("operators.build_index", build)
    run.details["build_files_per_s"] = n_all / (sp.t1 - sp.t0)
    stats = corpus.stats()
    term = inputs.Terms(run.rng, corpus.vocab)
    probe = corpus.vocab[:5] + corpus.vocab[1000:1003] + [f"uniq_{corpus.deleted[0]}", "absent_term"]
    with open(os.path.join(path, "meta.json")) as f:
        n_docs = json.load(f)["n_docs"]
    run.check(oracle.check_index_stats, n_docs, _dictionary_df(path, probe), stats, "after build")
    n_dead, _ = run.op("operators.delete_from_index", postings.delete_from_index, spark, path, corpus.deleted)
    run.check(oracle.require, n_dead == len(corpus.deleted), f"delete: {n_dead} tombstones")
    # deletes mask hits; corpus statistics stay those of every file
    # indexed until a compaction
    live = set(range(n_all)) - set(corpus.deleted)
    ix, _ = run.op("operators.read_index", postings.read_index, spark, path)
    run.op("operators.warm_index", bm25.warm_index, ix)
    run.details["index_files"], run.details["index_mb"] = _dir_files_mb(path)

    def request(i: int):
        body = inputs.search_request(term, i)
        rows, sp = run.op("plans.search_topk", search_topk, ix, body)
        if rows is None:
            return
        run.request([sp])
        terms, m = inputs.request_terms(body)
        got = [(r["doc_id"], r["score"]) for r in sorted(rows, key=lambda r: r["rank"])]
        run.check(
            oracle.check_hits, got, oracle.bm25_scores(stats, terms, m), live,
            body["size"], body["from"], f"_search {json.dumps(body['query'])}",
        )

    def batch(queries, wand: dict | None = None):
        kw = {} if wand is None else {"stats": wand}
        rows, sp = run.op("operators.score_queries", bm25.score_queries, ix, queries, 10, prune=True, **kw)
        if rows is None:
            return None
        run.did(sp, len(queries))
        by_q: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
        for qid, terms in queries:
            run.check(
                oracle.check_hits, by_q.get(qid, []), oracle.bm25_scores(stats, terms), live, 10,
                what=f"batch query {terms}",
            )
        return rows

    # warm-up: the exhaustive scorer on the first timed batch (the timed
    # pruned run must equal it), then the first request templates
    first_batch = inputs.query_batch(term)
    exhaustive, _ = run.op("operators.score_queries", bm25.score_queries, ix, first_batch, 10)
    for i in range(SEARCH_WARM_REQUESTS):
        request(i)

    wand = {} if run.tracer.sc is not None else None
    run.start_timed()
    i = 0
    while time.time() - run.t_timed < run.seconds:
        for _ in range(SEARCH_ROUND_REQUESTS):
            request(i)
            i += 1
        queries = first_batch if i == SEARCH_ROUND_REQUESTS else inputs.query_batch(term)
        pruned = batch(queries, wand)
        if queries is first_batch and pruned is not None:
            run.check(
                oracle.check_same_rows, [tuple(r) for r in exhaustive], [tuple(r) for r in pruned],
                "pruned vs exhaustive batch",
            )
    if wand:
        run.details["wand_skip_rate"] = wand.get("skip_rate")


# -- facets -----------------------------------------------------------------

_FACET_OPERATOR = {
    "date_facet": "operators.date_facet",
    "term_list": "operators.term_list",
}


def facets(run: Run) -> None:
    import duckdb

    from elasticsearch_approx_plugin_spark.plans.request_parser import parse_request
    from elasticsearch_approx_plugin_spark.sources.tables import load_table

    spark, data = run.spark, run.data
    inputs.write_events(os.path.join(data, "events.parquet"), run.seed)

    def load():
        ev = load_table(spark, data, "events")
        return ev, ev.rdd.getNumPartitions()

    (events, n_parts), _ = run.op("sources.load_table", load)
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{data}/events.parquet/*.parquet')"
    )

    expected: dict[str, dict] = {}

    def body_round():
        """One request: a body of nine facets, parsed then run facet by facet."""
        body = inputs.facet_body()
        specs, parse_sp = run.op("plans.parse_request", parse_request, body)
        if specs is None:
            return
        spans = [parse_sp]
        for name, spec in body["facets"].items():
            kind = next(k for k in spec if k != "facet_filter")
            rows, sp = run.op(_FACET_OPERATOR.get(kind, "operators.facets"), specs[name].run, events)
            if rows is None:
                continue
            spans.append(sp)
            # every facet reads the whole table; a facet_filter is work
            # done on each row, so it does not shrink the count
            run.did(sp, inputs.N_EVENTS)
            scope = spec.get("facet_filter")
            if name not in expected:  # the body is the same every round
                expected[name] = oracle.facet_oracle(con, kind, spec[kind], scope)
            exp = expected[name]
            run.check(
                oracle.check_facet, kind, [r.asDict() for r in rows], exp,
                inputs.EXACT_THRESHOLD, n_parts, f"facet {name} ({kind}) filter={scope}",
            )
        run.request(spans)

    for _ in range(FACETS_WARM_BODIES):
        body_round()
    run.start_timed()
    while time.time() - run.t_timed < run.seconds:
        body_round()
    con.close()


WORKLOADS = {"search": search, "facets": facets}
