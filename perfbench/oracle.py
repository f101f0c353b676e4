"""Answers computed apart from the engine, and the checks that compare.

BM25 is recomputed in numpy from the generated token lists; facets are
recomputed by DuckDB over the generated parquet files. Every check
raises :class:`CheckFailed` with a reason; ``selftest.py`` feeds each
one a deliberately wrong answer to show that it can fail.
"""

from __future__ import annotations

import math

import numpy as np

K1, B = 1.2, 0.75
SCORE_TOL = 1e-6
HLL_RSD = 0.0025  # the facet's default relative standard deviation
HLL_SIGMAS = 5.0


class CheckFailed(AssertionError):
    pass


def require(ok: bool, msg: str) -> None:
    if not ok:
        raise CheckFailed(msg)


# -- BM25 -------------------------------------------------------------------


def bm25_scores(stats, terms: list[str], min_match: int = 1) -> dict[int, float]:
    """Exact BM25 (k1 1.2, b 0.75) of every doc matching at least
    ``min_match`` distinct query terms, summed in term order. ``stats``
    carries the index's corpus statistics (n_docs, df, avgdl)."""
    acc = np.zeros(stats.n_docs, np.float64)
    hits = np.zeros(stats.n_docs, np.int64)
    for t in sorted(set(terms)):
        p = stats.postings.get(t)
        if p is None:
            continue
        docs, tf, dl = p
        idf = math.log(1.0 + (stats.n_docs - docs.size + 0.5) / (docs.size + 0.5))
        acc[docs] += idf * ((tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / stats.avgdl)))
        hits[docs] += 1
    keep = np.flatnonzero(hits >= max(min_match, 1))
    return dict(zip(keep.tolist(), acc[keep].tolist()))


def expected_topk(scores: dict[int, float], live, k: int, offset: int = 0) -> list[tuple[int, float]]:
    """Ranks offset+1..offset+k by (score desc, doc id asc) over live docs."""
    ranked = sorted(
        ((d, s) for d, s in scores.items() if d in live),
        key=lambda x: (-round(x[1], 6), x[0]),
    )
    return ranked[offset : offset + k]


def check_hits(got: list[tuple[int, float]], scores: dict[int, float], live, k: int, offset: int = 0, what: str = "hits") -> None:
    """``got`` = [(doc_id, score)] in rank order. Scores must agree with
    the exact BM25 to SCORE_TOL rank by rank; doc ids must agree except
    where two docs' exact scores tie within the tolerance."""
    exp = expected_topk(scores, live, k, offset)
    require(len(got) == len(exp), f"{what}: {len(got)} hits, expected {len(exp)}")
    require(len({d for d, _ in got}) == len(got), f"{what}: duplicate doc ids")
    for r, ((gd, gs), (ed, es)) in enumerate(zip(got, exp), start=offset + 1):
        require(gd in live, f"{what}: rank {r} is doc {gd}, which is deleted or unknown")
        require(abs(gs - es) <= SCORE_TOL, f"{what}: rank {r} score {gs!r}, expected {es!r}")
        require(
            abs(gs - scores.get(gd, math.inf)) <= SCORE_TOL,
            f"{what}: rank {r} doc {gd} scored {gs!r}, exact score {scores.get(gd)!r}",
        )
        if gd != ed:
            require(
                abs(scores[gd] - scores[ed]) <= 2 * SCORE_TOL,
                f"{what}: rank {r} is doc {gd}, expected {ed}",
            )


def check_same_rows(a: list[tuple], b: list[tuple], what: str) -> None:
    require(sorted(a) == sorted(b), f"{what}: result sets differ")


def check_index_stats(n_docs: int, df: dict[str, int], stats, what: str = "index") -> None:
    require(n_docs == stats.n_docs, f"{what}: n_docs {n_docs}, expected {stats.n_docs}")
    for t, v in df.items():
        require(v == stats.df(t), f"{what}: df({t}) = {v}, expected {stats.df(t)}")


# -- facets -----------------------------------------------------------------


def _where(query: dict | None) -> str:
    if not query:
        return "TRUE"
    ((kind, body),) = query.items()
    ((fld, spec),) = body.items()
    if kind == "term":
        return f"{fld} = '{spec}'"
    ops = {"gte": ">=", "gt": ">", "lte": "<=", "lt": "<"}
    return " AND ".join(f"{fld} {ops[o]} {float(v)!r}" for o, v in spec.items())


def facet_oracle(con, kind: str, spec: dict, query: dict | None) -> dict:
    """DuckDB's answer for one facet over the ``events`` view."""
    w = _where(query)
    if kind == "date_facet":
        key = f"date_trunc('{spec['interval']}', ts)::TIMESTAMP"
        if "slice_field" in spec:
            rows = con.sql(
                f"SELECT {key} AS t, {spec['slice_field']}::VARCHAR, count(*) FROM events "
                f"WHERE {w} GROUP BY ALL"
            ).fetchall()
            return {"counts": {(t, s): c for t, s, c in rows}}
        d = spec["distinct_field"]
        rows = con.sql(
            f"SELECT {key} AS t, count({d}), count(DISTINCT {d}) FROM events "
            f"WHERE {w} AND {d} IS NOT NULL GROUP BY ALL"
        ).fetchall()
        return {"counts": {t: c for t, c, _ in rows}, "distinct": {t: n for t, _, n in rows}}
    if kind == "term_list":
        f = spec["key_field"]
        vals = con.sql(f"SELECT DISTINCT {f}::VARCHAR FROM events WHERE {w} AND {f} IS NOT NULL").fetchall()
        return {"terms": {v for (v,) in vals}, "cap": int(spec.get("max_per_shard", 1000))}
    if kind == "terms":
        rows = con.sql(
            f"SELECT {spec['field']}::VARCHAR AS term, count(*) AS c FROM events WHERE {w} "
            f"GROUP BY ALL ORDER BY c DESC, term LIMIT {int(spec.get('size', 10))}"
        ).fetchall()
        return {"rows": [(t, c) for t, c in rows if t is not None]}
    if kind == "statistical":
        f = spec["field"]
        (row,) = con.sql(
            f"SELECT count({f}), sum({f}), min({f}), max({f}), sum({f}*{f}) FROM events WHERE {w}"
        ).fetchall()
        return {"row": row}
    if kind == "histogram":
        iv = float(spec["interval"])
        f = spec["key_field"]
        rows = con.sql(
            f"SELECT floor(floor({f} / {iv!r}) * {iv!r})::BIGINT, count(*) FROM events "
            f"WHERE {w} AND {f} IS NOT NULL GROUP BY ALL"
        ).fetchall()
        return {"counts": dict(rows)}
    if kind == "range":
        out = []
        f = spec["field"]
        for r in spec["ranges"]:
            cond = [f"{f} IS NOT NULL"]
            if "from" in r:
                cond.append(f"{f} >= {float(r['from'])!r}")
            if "to" in r:
                cond.append(f"{f} < {float(r['to'])!r}")
            (row,) = con.sql(
                f"SELECT count(*), sum({f}) FROM events WHERE {w} AND {' AND '.join(cond)}"
            ).fetchall()
            out.append((r.get("from"), r.get("to"), row[0], row[1]))
        return {"ranges": out}
    if kind == "terms_stats":
        k, v = spec["key_field"], spec["value_field"]
        rows = con.sql(
            f"SELECT {k}::VARCHAR, count(*), count({v}), sum({v}) FROM events WHERE {w} "
            f"AND {k} IS NOT NULL GROUP BY ALL"
        ).fetchall()
        return {"rows": {t: (c, n, s) for t, c, n, s in rows}, "size": int(spec.get("size", 10))}
    raise ValueError(f"no oracle for facet kind {kind!r}")


def _close(a, b, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return abs(a - b) <= max(abs_, rel * abs(b))


def check_facet(kind: str, rows: list[dict], exp: dict, threshold: int, n_partitions: int, what: str) -> None:
    """``rows`` = the engine's facet rows as dicts."""
    if kind == "date_facet" and "distinct" not in exp:
        got = {(r["time"], r["term"]): r["count"] for r in rows}
        require(got == exp["counts"], f"{what}: bucket counts differ")
        return
    if kind == "date_facet":
        got = {r["time"]: r for r in rows}
        require(set(got) == set(exp["counts"]), f"{what}: bucket set differs")
        bound = HLL_SIGMAS * HLL_RSD
        for t, r in got.items():
            require(r["count"] == exp["counts"][t], f"{what}: bucket {t} count {r['count']}, expected {exp['counts'][t]}")
            true = exp["distinct"][t]
            require(bool(r["tipped"]) == (true > threshold), f"{what}: bucket {t} tipped={r['tipped']} with {true} distinct")
            if r["tipped"]:
                require(
                    abs(r["distinct_count"] - true) <= bound * true,
                    f"{what}: bucket {t} estimate {r['distinct_count']} outside ±{bound:.2%} of {true}",
                )
            else:
                require(r["distinct_count"] == true, f"{what}: bucket {t} exact distinct {r['distinct_count']}, expected {true}")
        return
    if kind == "term_list":
        got = [r["term"] for r in rows]
        require(len(set(got)) == len(got), f"{what}: duplicate terms")
        extra = set(got) - exp["terms"]
        require(not extra, f"{what}: {len(extra)} terms not in the input, e.g. {sorted(extra)[:3]}")
        cap = exp["cap"] * n_partitions
        require(len(got) <= min(cap, len(exp["terms"])), f"{what}: {len(got)} terms exceeds cap {cap}")
        require(len(got) >= min(exp["cap"], len(exp["terms"])), f"{what}: {len(got)} terms, fewer than one partition's cap")
        return
    if kind == "terms":
        got = [(r["term"], r["count"]) for r in rows]
        require(got == exp["rows"], f"{what}: entries {got} != {exp['rows']}")
        return
    if kind == "statistical":
        (r,) = rows
        n, s, lo, hi, sq = exp["row"]
        require(r["count"] == n, f"{what}: count {r['count']} != {n}")
        for name, e in (("total", s), ("min", lo), ("max", hi), ("sum_of_squares", sq)):
            require(_close(r[name], round(e, 6), rel=1e-9, abs_=1e-5), f"{what}: {name} {r[name]} != {e}")
        require(_close(r["mean"], round(s / n, 6), rel=1e-9, abs_=1e-5), f"{what}: mean {r['mean']} != {s / n}")
        return
    if kind == "histogram":
        got = {r["key"]: r["count"] for r in rows}
        require(got == exp["counts"], f"{what}: bucket counts differ")
        return
    if kind == "range":
        got = [(r["range_from"], r["range_to"], r["count"], r["total"]) for r in rows]
        require(len(got) == len(exp["ranges"]), f"{what}: {len(got)} ranges")
        for g, e in zip(sorted(got, key=str), sorted(exp["ranges"], key=str)):
            require(g[:3] == (e[0], e[1], e[2]), f"{what}: range {g[:3]} != {e[:3]}")
            require(_close(g[3], None if e[3] is None else round(e[3], 6), rel=1e-9, abs_=1e-5), f"{what}: range total {g[3]} != {e[3]}")
        return
    if kind == "terms_stats":
        got = {r["term"]: r for r in rows}
        exp_rows = exp["rows"]
        top = sorted(exp_rows, key=lambda t: (-exp_rows[t][0], t))[: exp["size"] or None]
        require(sorted(got) == sorted(top), f"{what}: terms {sorted(got)} != {sorted(top)}")
        for t, r in got.items():
            c, n, s = exp_rows[t]
            require((r["count"], r["total_count"]) == (c, n), f"{what}: {t} counts {(r['count'], r['total_count'])} != {(c, n)}")
            require(_close(r["total"], round(s, 6), rel=1e-9, abs_=1e-5), f"{what}: {t} total {r['total']} != {s}")
        return
    raise ValueError(f"no check for facet kind {kind!r}")
