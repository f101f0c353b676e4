"""Spark-free timings of the ``functions`` kernels on seeded arrays.

No JVM starts here: the kernels are called directly, min-of-N in one
process, so machine drift between runs cannot hide a kernel change.
Sizes mirror the engine's shapes: posting rows of Zipf lengths for the
varint codecs, p=18 register arrays (rsd 0.0025) for HyperLogLog, and
a 200-row query table for the ``small_df`` JSON literal.
"""

from __future__ import annotations

import json
import time

import numpy as np

REPEATS = 5


def _best(fn, repeats: int = REPEATS) -> float:
    best = float("inf")
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t)
    return best


def _posting_rows(rng, n_rows: int = 4000):
    """Sorted doc-id lists with Zipf lengths, as a posting encode sees them."""
    lens = np.minimum(rng.zipf(1.6, n_rows), 4000).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    deltas = rng.integers(1, 40, int(lens.sum())).astype(np.uint64)
    deltas[starts] = rng.integers(0, 1 << 16, n_rows).astype(np.uint64)
    return lens, starts, deltas


def run(seed: int) -> dict[str, float]:
    import pyarrow as pa

    from elasticsearch_approx_plugin_spark.functions import hll, varint
    from elasticsearch_approx_plugin_spark.functions.sketch import CountThenEstimate
    from elasticsearch_approx_plugin_spark.functions.small_df import _json_cell
    from elasticsearch_approx_plugin_spark.operators.postings import _decode_doc_rows
    from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

    rng = np.random.default_rng([seed, 3])
    out: dict[str, float] = {}

    lens, starts, deltas = _posting_rows(rng)
    rows = varint.varint_encode_grouped(deltas, starts)
    col = pa.array(rows, type=pa.binary())
    mb = sum(len(r) for r in rows) / 1e6
    out["functions.varint_decode_mb_per_s"] = mb / _best(
        lambda: [varint.delta_varint_decode(r) for r in rows]
    )
    out["functions.varint_decode_grouped_mb_per_s"] = mb / _best(lambda: _decode_doc_rows(col, lens))
    bounds = np.append(starts, deltas.size)
    groups = [np.cumsum(deltas[bounds[i] : bounds[i + 1]]) for i in range(lens.size)]
    out["functions.varint_encode_mb_per_s"] = mb / _best(
        lambda: [varint.delta_varint_encode(g) for g in groups]
    )
    out["functions.varint_encode_grouped_mb_per_s"] = mb / _best(
        lambda: varint.varint_encode_grouped(deltas, starts)
    )

    hashes = rng.integers(0, 1 << 63, 1_000_000, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    out["functions.hll_add_mhash_per_s"] = 1.0 / _best(
        lambda: hll.hll_add_hashes(hll.hll_new(), hashes)
    )
    regs = [hll.hll_add_hashes(hll.hll_new(), hashes[i::8]) for i in range(8)]
    out["functions.hll_merge_per_s"] = 64 / _best(
        lambda: [hll.hll_merge(regs[i % 8].copy(), regs[(i + 1) % 8]) for i in range(64)]
    )
    out["functions.hll_estimate_per_s"] = 16 / _best(lambda: [hll.hll_estimate(regs[i % 8]) for i in range(16)])

    # a stream of 20k distinct values in batches of 256: the state stays
    # exact for its first 1000 distinct, tips, then feeds the sketch
    stream = rng.integers(0, 20_000, 200_000).astype(np.uint64) * np.uint64(0x9E3779B97F4A7C15)

    def offer():
        st = CountThenEstimate(1000)
        for i in range(0, stream.size, 256):
            st.offer_hashes(stream[i : i + 256])

    out["functions.cte_offer_mhash_per_s"] = stream.size / 1e6 / _best(offer)

    schema = StructType(
        [
            StructField("query_id", LongType()),
            StructField("term", StringType()),
            StructField("idf", DoubleType()),
        ]
    )
    table = [(int(q), f"ident_{int(t):04d}", float(w)) for q, t, w in zip(
        rng.integers(0, 100, 200), rng.integers(0, 4000, 200), rng.random(200)
    )]
    out["functions.small_df_s"] = _best(
        lambda: json.dumps([_json_cell(r, schema) for r in table], allow_nan=False)
    )
    return out
