import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_approx_plugin_spark.functions.varint import (
    delta_varint_decode,
    delta_varint_encode,
    varint_decode,
    varint_encode,
)


def test_empty():
    assert varint_encode(np.empty(0, dtype=np.uint64)) == b""
    assert varint_decode(b"").size == 0


def test_known_values():
    v = np.array([0, 1, 127, 128, 300, 2**32, 2**63, 2**64 - 1], dtype=np.uint64)
    assert varint_encode(np.array([0], dtype=np.uint64)) == b"\x00"
    assert varint_encode(np.array([300], dtype=np.uint64)) == b"\xac\x02"
    np.testing.assert_array_equal(varint_decode(varint_encode(v)), v)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=500))
def test_roundtrip(values):
    v = np.array(values, dtype=np.uint64)
    np.testing.assert_array_equal(varint_decode(varint_encode(v)), v)


@settings(max_examples=100, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=500))
def test_delta_roundtrip(values):
    v = np.sort(np.array(values, dtype=np.uint64))
    np.testing.assert_array_equal(delta_varint_decode(delta_varint_encode(v)), v)


def test_decode_doc_rows_roundtrip_property():
    """Property: for ANY set of per-row sorted docID lists with aligned
    tf/dl values, the flat concatenated-blob decodes — _decode_doc_rows
    and the shared posting-row kernel _decode_postings — return exactly
    the concatenation of the original values, with each row's offsets;
    a stream one varint short raises ValueError."""
    import numpy as np
    import pyarrow as pa
    import pytest
    from hypothesis import given, settings, strategies as st

    from elasticsearch_approx_plugin_spark.operators.postings import (
        _decode_doc_rows,
        _decode_postings,
    )
    from elasticsearch_approx_plugin_spark.functions.varint import delta_varint_encode

    doc_id = st.one_of(st.integers(0, 2**62), st.integers(2**63 - 2**16, 2**63 - 1))
    value = st.one_of(st.integers(0, 2**16), st.integers(2**63 - 2**16, 2**64 - 1))
    posting_row = st.dictionaries(doc_id, st.tuples(value, value), min_size=1, max_size=30)

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(posting_row.map(lambda r: sorted(r.items())), min_size=1, max_size=12),
        st.sampled_from(["doc_ids", "tfs", "dls"]),
    )
    def run(rows, short):
        ids = [np.array([d for d, _ in r], dtype=np.uint64) for r in rows]
        tfs = [np.array([v[0] for _, v in r], dtype=np.uint64) for r in rows]
        dls = [np.array([v[1] for _, v in r], dtype=np.uint64) for r in rows]
        counts = np.array([len(r) for r in rows], dtype=np.int64)
        streams = {
            "doc_ids": [delta_varint_encode(v) for v in ids],
            "tfs": [varint_encode(v) for v in tfs],
            "dls": [varint_encode(v) for v in dls],
        }
        tbl = pa.table(
            {"df_part": counts, **{c: pa.array(b, pa.binary()) for c, b in streams.items()}}
        )
        exp = np.concatenate(ids)
        np.testing.assert_array_equal(_decode_doc_rows(tbl["doc_ids"], counts), exp)
        docs, tf, dl, offs = _decode_postings(tbl)
        assert docs.dtype == np.int64
        np.testing.assert_array_equal(docs, exp.astype(np.int64))
        np.testing.assert_array_equal(tf, np.concatenate(tfs))
        np.testing.assert_array_equal(dl, np.concatenate(dls))
        np.testing.assert_array_equal(offs, np.r_[0, np.cumsum(counts)])
        only_ids = _decode_postings(tbl.select(["df_part", "doc_ids"]))
        assert only_ids[1] is None and only_ids[2] is None
        # the last row's `short` stream loses its last varint
        vals = {"doc_ids": ids, "tfs": tfs, "dls": dls}[short][-1][:-1]
        enc = delta_varint_encode if short == "doc_ids" else varint_encode
        cut = streams[short][:-1] + [enc(vals)]
        broken = tbl.set_column(
            tbl.schema.get_field_index(short), short, pa.array(cut, pa.binary())
        )
        with pytest.raises(ValueError):
            _decode_postings(broken)

    run()


def test_merge_partition_unit():
    """_merge_partition directly on crafted Arrow batches: singleton
    groups pass through byte-identical; split groups merge to the
    byte-exact single-row encoding of the union."""
    import numpy as np
    import pyarrow as pa

    from elasticsearch_approx_plugin_spark.operators.postings import _merge_partition
    from elasticsearch_approx_plugin_spark.functions.varint import (
        delta_varint_encode,
        varint_encode,
    )

    def row(term, rid, docs, tfs, dls, mt):
        docs = np.array(docs, dtype=np.uint64)
        return {
            "term": term, "range_id": rid,
            "df_part": len(docs), "cf_part": int(sum(tfs)),
            "max_tfnorm": mt,
            "doc_ids": delta_varint_encode(docs),
            "tfs": varint_encode(np.array(tfs, dtype=np.uint64)),
            "dls": varint_encode(np.array(dls, dtype=np.uint64)),
        }

    rows = [
        row("alpha", 0, [3, 9], [1, 2], [10, 20], 1.5),        # split, part 1
        row("alpha", 0, [5, 700], [7, 1], [30, 40], 1.2),      # split, part 2
        row("alpha", 1, [2], [4], [9], 2.0),                    # singleton
        row("beta", 0, [1, 2, 3], [1, 1, 1], [5, 5, 5], 0.7),  # singleton
        row("beta", 7, [100], [9], [50], 3.0),                  # split, part 1
        row("beta", 7, [42], [2], [60], 0.5),                   # split, part 2
    ]
    schema = pa.schema(
        [
            ("term", pa.string()), ("range_id", pa.int64()),
            ("df_part", pa.int64()), ("cf_part", pa.int64()),
            ("max_tfnorm", pa.float64()), ("doc_ids", pa.binary()),
            ("tfs", pa.binary()), ("dls", pa.binary()),
        ]
    )
    batch = pa.RecordBatch.from_pylist(rows, schema=schema)
    out = {}
    for b in _merge_partition(iter([batch])):
        for r in b.to_pylist():
            out[(r["term"], r["range_id"])] = r

    assert set(out) == {("alpha", 0), ("alpha", 1), ("beta", 0), ("beta", 7)}
    # singletons byte-identical
    assert out[("alpha", 1)]["doc_ids"] == rows[2]["doc_ids"]
    assert out[("beta", 0)]["tfs"] == rows[3]["tfs"]
    # merged group == byte-exact single-row encode of the doc-sorted union
    exp = row("alpha", 0, [3, 5, 9, 700], [1, 7, 2, 1], [10, 30, 20, 40], 1.5)
    got = out[("alpha", 0)]
    assert got["df_part"] == 4 and got["cf_part"] == 11
    assert got["max_tfnorm"] == 1.5
    assert got["doc_ids"] == exp["doc_ids"]
    assert got["tfs"] == exp["tfs"]
    assert got["dls"] == exp["dls"]
    got2 = out[("beta", 7)]
    exp2 = row("beta", 7, [42, 100], [2, 9], [60, 50], 3.0)
    assert got2["doc_ids"] == exp2["doc_ids"]
    assert got2["tfs"] == exp2["tfs"]
    assert got2["dls"] == exp2["dls"]
    assert got2["max_tfnorm"] == 3.0
