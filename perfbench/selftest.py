"""Show that every correctness check of the benchmark can fail.

    python3 perfbench/selftest.py

Each check first gets a right answer, which it must accept, then a
deliberately wrong one, which it must reject: a score off by 1e-5, a
dropped hit, a bucket count off by one, a HyperLogLog estimate outside
its bound, a deleted document in a hit list, and a capped term list
holding a term that is not in the input. No Spark is started; the
exact answers come from the same oracle the benchmark runs use.
Exits 0 only if every right answer passes and every wrong one fails.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

sys.path[:0] = [os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from perfbench import oracle  # noqa: E402
from perfbench.inputs import CorpusStats  # noqa: E402

THRESHOLD = 100


def _bm25_case():
    docs = [
        "a b c a", "a d", "b b e", "c a a a f", "d e f g", "a g", "b c", "a b c d e f g",
    ]
    stats = CorpusStats([d.split() for d in docs])
    scores = oracle.bm25_scores(stats, ["a", "b"])
    live = set(range(len(docs))) - {3}  # doc 3 is deleted
    right = [(d, round(s, 6)) for d, s in oracle.expected_topk(scores, live, 4)]
    return stats, scores, live, right


def _facet_case():
    import duckdb
    import pyarrow as pa

    t0 = dt.datetime(2024, 1, 1)
    ts, users = [], []
    for hour, n_users in enumerate((40, 150, 300)):  # the last two tip
        for u in range(n_users):
            ts += [t0 + dt.timedelta(hours=hour, minutes=u % 60)] * 2
            users += [hour * 1000 + u] * 2
    con = duckdb.connect()
    con.register("events", pa.table({"ts": pa.array(ts, pa.timestamp("us")), "user_id": users}))
    spec = {"key_field": "ts", "interval": "hour", "distinct_field": "user_id"}
    exp = oracle.facet_oracle(con, "date_facet", spec, None)
    rows = [
        {"time": t, "count": c, "distinct_count": exp["distinct"][t], "tipped": exp["distinct"][t] > THRESHOLD}
        for t, c in exp["counts"].items()
    ]
    tl = oracle.facet_oracle(con, "term_list", {"key_field": "user_id", "max_per_shard": 50}, None)
    return rows, exp, tl


def main() -> int:
    stats, scores, live, right = _bm25_case()
    rows, exp, tl = _facet_case()
    tipped = next(i for i, r in enumerate(rows) if r["tipped"])
    bound = oracle.HLL_SIGMAS * oracle.HLL_RSD

    def hits(got):
        return lambda: oracle.check_hits(got, scores, live, 4)

    def buckets(mutate):
        def run():
            got = [dict(r) for r in rows]
            mutate(got)
            oracle.check_facet("date_facet", got, exp, THRESHOLD, 1, "date_facet")
        return run

    def terms(got):
        return lambda: oracle.check_facet("term_list", [{"term": t} for t in got], tl, THRESHOLD, 2, "term_list")

    terms_right = sorted(tl["terms"])[:60]
    cases = [
        ("top-k hits", hits(right), hits([(d, s + 1e-5) if i == 0 else (d, s) for i, (d, s) in enumerate(right)]),
         "a score off by 1e-5"),
        ("top-k hits", hits(right), hits(right[:1] + right[2:]), "a dropped hit"),
        ("top-k hits", hits(right), hits(right[:-1] + [(3, round(scores[3], 6))]), "a deleted document in the hits"),
        ("date_facet buckets", buckets(lambda g: None), buckets(lambda g: g[0].update(count=g[0]["count"] + 1)),
         "a bucket count off by one"),
        ("date_facet distinct", buckets(lambda g: None),
         buckets(lambda g: g[tipped].update(distinct_count=int(g[tipped]["distinct_count"] * (1 + 2 * bound)) + 1)),
         "a HyperLogLog estimate outside its bound"),
        ("capped term_list", terms(terms_right), terms(terms_right[:-1] + ["not_in_input"]),
         "a term that is not in the input"),
    ]
    ok = True
    for check, accept, reject, wrong in cases:
        try:
            accept()
        except oracle.CheckFailed as e:
            print(f"FAIL: {check} rejected the right answer: {e}")
            ok = False
            continue
        try:
            reject()
        except oracle.CheckFailed as e:
            print(f"ok: {check} rejects {wrong}: {e}")
        else:
            print(f"FAIL: {check} accepted {wrong}")
            ok = False
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
