"""Seeded inputs: a Zipf source-code corpus, an events table and the
request mixes. Everything is a pure function of the seed; the engine
only ever sees the generated files and request bodies.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -- corpus -----------------------------------------------------------------

N_FILES = 2400
VOCAB_SIZE = 4000
ZIPF_S = 1.1
DOC_LEN = (30, 300)  # tokens per file, uniform, plus one file-unique token
TOKENS_PER_LINE = 12
N_DELETED = 60  # files tombstoned after the build
RANGE_BITS = 8  # 256 docs per scoring range: ~10 ranges for WAND to skip
LANGS = ("py", "java", "c", "go", "js", "md")

_BASE_WORDS = (
    "def class import return self static void public int for while if else "
    "struct func package var const let function export require include "
    "printf malloc free string array map list dict hash merge sort scan "
    "join filter index query token parse buffer stream batch shard node"
).split()


class Corpus:
    """Token lists of N_FILES files, and which of them get deleted."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 1])
        words = _BASE_WORDS + [f"ident_{i:04d}" for i in range(VOCAB_SIZE - len(_BASE_WORDS))]
        # which identifier is hot depends on the seed; the rank skew does not
        self.vocab = [words[i] for i in rng.permutation(VOCAB_SIZE)]
        cum = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S)
        cum /= cum[-1]
        lens = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, N_FILES)
        ranks = np.minimum(np.searchsorted(cum, rng.random(int(lens.sum()))), VOCAB_SIZE - 1)
        bounds = np.concatenate([[0], np.cumsum(lens)])
        self.tokens = [
            [self.vocab[r] for r in ranks[bounds[i] : bounds[i + 1]]] + [f"uniq_{i}"]
            for i in range(N_FILES)
        ]
        self.lang = [LANGS[i] for i in rng.integers(0, len(LANGS), N_FILES)]
        self.deleted = sorted(
            int(i) for i in rng.choice(N_FILES, N_DELETED, replace=False)
        )

    def write(self, path: str, n_parts: int) -> None:
        """The corpus as a parquet directory in the source schema (repo,
        path, commit, lang, content, content_sha) plus doc_id."""
        os.makedirs(path, exist_ok=True)
        for part, ids in enumerate(np.array_split(np.arange(N_FILES), n_parts)):
            content = [
                "\n".join(
                    " ".join(self.tokens[i][j : j + TOKENS_PER_LINE])
                    for j in range(0, len(self.tokens[i]), TOKENS_PER_LINE)
                )
                for i in ids
            ]
            tbl = pa.table(
                {
                    "doc_id": pa.array(ids, pa.int64()),
                    "repo": [f"org{i % 7}/repo{i % 101}" for i in ids],
                    "path": [f"src/m{i % 13}/f{i}.{self.lang[i]}" for i in ids],
                    "commit": [hashlib.sha1(f"c{i}".encode()).hexdigest() for i in ids],
                    "lang": [self.lang[i] for i in ids],
                    "content": content,
                    "content_sha": [hashlib.sha256(c.encode()).hexdigest() for c in content],
                }
            )
            pq.write_table(tbl, os.path.join(path, f"part-{part:03d}.parquet"))

    def stats(self) -> "CorpusStats":
        return CorpusStats(self.tokens)


class CorpusStats:
    """Per-term postings (doc ids, tf, dl) of docs 0..n-1, and the
    corpus statistics BM25 needs."""

    def __init__(self, token_lists: list[list[str]]):
        self.n_docs = len(token_lists)
        dl = np.array([len(t) for t in token_lists], np.float64)
        self.avgdl = float(dl.mean())
        post: dict[str, list[tuple[int, int]]] = {}
        for d, toks in enumerate(token_lists):
            for term, tf in Counter(toks).items():
                post.setdefault(term, []).append((d, tf))
        self.postings = {}
        for t, p in post.items():
            docs = np.array([d for d, _ in p], np.int64)
            self.postings[t] = (docs, np.array([tf for _, tf in p], np.float64), dl[docs])

    def df(self, term: str) -> int:
        p = self.postings.get(term)
        return 0 if p is None else int(p[0].size)


# -- search requests --------------------------------------------------------

# vocabulary rank bands; the vocabulary order is seeded, so a band
# holds different identifiers under each seed but the same df range
BANDS = {"hot": (0, 10), "mid": (100, 200), "rare": (1500, 2500)}
# each band is walked with a fixed stride, coprime with its width
_BAND_STRIDE = {"hot": 3, "mid": 37, "rare": 379}

# request templates, cycled in this order from the start of every timed
# phase: (query kind, term bands, size, from). "uniq" is a file-unique
# token (df 1), possibly of a deleted file.
REQUESTS = (
    ("or", ("hot",), 10, 0),
    ("or", ("hot", "rare"), 10, 0),
    ("and", ("mid", "mid"), 10, 0),
    ("bool2", ("hot", "mid", "rare"), 20, 0),
    ("or", ("mid", "uniq"), 5, 0),
    ("and", ("hot", "hot"), 10, 5),
)


class Terms:
    """Query terms of one run. The n-th term drawn from a band sits at a
    fixed rank of it, whatever the seed: the seed decides which
    identifier holds that rank, so every seed asks for terms of the same
    document frequencies. "uniq" is a seeded file's unique token (df 1),
    possibly of a deleted file."""

    def __init__(self, rng, vocab: list[str]):
        self.rng, self.vocab = rng, vocab
        self.drawn = dict.fromkeys(BANDS, 0)

    def __call__(self, band: str) -> str:
        if band == "uniq":
            return f"uniq_{int(self.rng.integers(0, N_FILES))}"
        lo, hi = BANDS[band]
        n = self.drawn[band]
        self.drawn[band] += 1
        return self.vocab[lo + n * _BAND_STRIDE[band] % (hi - lo)]


def search_request(term: Terms, i: int) -> dict:
    """The ``i``-th ``_search`` body of a phase: template i mod 6 with
    the next terms of its bands. match OR / AND, or a bool of term
    clauses."""
    kind, bands, size, offset = REQUESTS[i % len(REQUESTS)]
    terms = [term(b) for b in bands]
    if kind == "or":
        query = {"match": {"content": " ".join(terms)}}
    elif kind == "and":
        query = {"match": {"content": {"query": " ".join(terms), "operator": "and"}}}
    else:
        query = {
            "bool": {
                "should": [{"term": {"content": t}} for t in terms],
                "minimum_should_match": int(kind[-1]),
            }
        }
    return {"query": query, "size": size, "from": offset}


def request_terms(body: dict) -> tuple[list[str], int]:
    """(terms, minimum distinct terms a hit must match) of a body."""
    q = body["query"]
    if "match" in q:
        spec = q["match"]["content"]
        if isinstance(spec, str):
            return spec.split(), 1
        terms = spec["query"].split()
        return terms, len(set(terms))
    b = q["bool"]
    return [c["term"]["content"] for c in b["should"]], int(b["minimum_should_match"])


BATCH_QUERIES = 100
_BATCH_SHAPES = (("hot",), ("mid", "rare"), ("hot", "mid", "rare"), ("rare",))


def query_batch(term: Terms) -> list[tuple[int, list[str]]]:
    """100 OR queries of 1-3 terms, the same band shapes in every batch."""
    return [
        (q, [term(b) for b in _BATCH_SHAPES[q % len(_BATCH_SHAPES)]])
        for q in range(BATCH_QUERIES)
    ]


# -- events -----------------------------------------------------------------

N_EVENTS = 600_000
N_EVENT_FILES = 8
EVENT_HOURS = 48
EVENT_TYPES = ("view", "click", "search", "purchase", "error")
EXACT_THRESHOLD = 1000  # distinct users per bucket before HyperLogLog
T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def write_events(path: str, seed: int) -> None:
    """``events`` schema (event_id, ts, user_id, event_type, value,
    props). Each hour draws its users from its own pool; the pool sizes
    are log-spaced from 150 to 6000, so the per-hour distinct counts
    fall on both sides of EXACT_THRESHOLD. The seed shuffles which hour
    gets which pool, so every seed tips the same number of hours."""
    rng = np.random.default_rng([seed, 2])
    sizes = np.exp(np.linspace(np.log(150), np.log(6000), EVENT_HOURS))
    pools = sizes[rng.permutation(EVENT_HOURS)].astype(np.int64)
    hour = np.sort(rng.integers(0, EVENT_HOURS, N_EVENTS))
    user = (hour * 10_000 + (rng.random(N_EVENTS) * pools[hour]).astype(np.int64)) % 200_000
    ts_ms = T0_MS + hour * 3_600_000 + rng.integers(0, 3_600_000, N_EVENTS)
    etype = rng.choice(len(EVENT_TYPES), N_EVENTS, p=[0.5, 0.25, 0.15, 0.06, 0.04])
    value = np.round(rng.gamma(2.0, 20.0, N_EVENTS), 2)
    value[rng.random(N_EVENTS) < 0.02] = np.nan  # some events carry no value
    os.makedirs(path, exist_ok=True)
    for part, ids in enumerate(np.array_split(np.arange(N_EVENTS), N_EVENT_FILES)):
        tbl = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(ts_ms[ids] * 1000, pa.timestamp("us")),
                "user_id": pa.array(user[ids], pa.int64()),
                "event_type": pa.array([EVENT_TYPES[t] for t in etype[ids]]),
                "value": pa.array(value[ids], pa.float64(), from_pandas=True),
                "props": pa.array([f'{{"k": {int(u) % 97}}}' for u in user[ids]]),
            }
        )
        pq.write_table(tbl, os.path.join(path, f"part-{part:03d}.parquet"))


def facet_body() -> dict:
    """One facet request body, the same nine facets every time: the
    plugin's date_facet (hybrid distinct at hour and day, sliced) and
    capped term_list, and the core terms / statistical / histogram /
    range / terms_stats facets; four of them under a facet_filter. The
    body is the same under every seed, so that only the seeded events
    differ between runs."""
    value_filter = {"range": {"value": {"gte": 10.0, "lt": 70.0}}}
    return {
        "facets": {
            "per_hour": {
                "date_facet": {
                    "key_field": "ts",
                    "interval": "hour",
                    "distinct_field": "user_id",
                    "exact_threshold": EXACT_THRESHOLD,
                }
            },
            "per_day": {
                "date_facet": {
                    "key_field": "ts",
                    "interval": "day",
                    "distinct_field": "user_id",
                    "exact_threshold": EXACT_THRESHOLD,
                },
                "facet_filter": value_filter,
            },
            "hour_by_type": {
                "date_facet": {"key_field": "ts", "interval": "hour", "slice_field": "event_type"}
            },
            "users": {
                "term_list": {"key_field": "user_id", "max_per_shard": 120},
                "facet_filter": {"term": {"event_type": "view"}},
            },
            "types": {"terms": {"field": "event_type", "size": 3}},
            "value_stats": {
                "statistical": {"field": "value"},
                "facet_filter": {"term": {"event_type": "click"}},
            },
            "value_hist": {"histogram": {"key_field": "value", "interval": 20.0}},
            "value_ranges": {
                "range": {
                    "field": "value",
                    "ranges": [{"to": 20.0}, {"from": 20.0, "to": 60.0}, {"from": 40.0}],
                },
                "facet_filter": value_filter,
            },
            "type_stats": {"terms_stats": {"key_field": "event_type", "value_field": "value"}},
        }
    }
