"""Property-based codec tests (SURVEY.md §5.1): round-trips over random inputs."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dense_retriever_spark.index.codec import (
    decode_postings,
    encode_postings,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(xs):
    arr = np.array(xs, dtype=np.uint64)
    out = varbyte_decode(varbyte_encode(arr))
    assert out.tolist() == xs


def test_varbyte_known_bytes():
    # 0 -> single terminal byte 0x80; 127 -> 0xFF; 128 -> 0x00 0x81
    assert varbyte_encode(np.array([0], np.uint64)) == b"\x80"
    assert varbyte_encode(np.array([127], np.uint64)) == b"\xff"
    assert varbyte_encode(np.array([128], np.uint64)) == b"\x00\x81"
    assert varbyte_decode(b"\x00\x81").tolist() == [128]


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**12),
            st.integers(min_value=1, max_value=1000),
            st.integers(min_value=1, max_value=100_000),
        ),
        max_size=400,
    )
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(rows):
    ids = sorted({r[0] for r in rows})
    rows = [(i, t, d) for i, (_, t, d) in zip(ids, rows)]
    doc_ids = np.array([r[0] for r in rows], np.int64)
    tfs = np.array([r[1] for r in rows], np.int64)
    dls = np.array([r[2] for r in rows], np.int64)
    i2, t2, d2 = decode_postings(encode_postings(doc_ids, tfs, dls))
    assert i2.tolist() == doc_ids.tolist()
    assert t2.tolist() == tfs.tolist()
    assert d2.tolist() == dls.tolist()


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=50),   # gap to next doc id
            st.integers(min_value=1, max_value=8),    # tf
        ),
        min_size=0, max_size=120,
    ),
    st.sampled_from([0, 1, 4096, 10**9, 10**12]),
)
@settings(deadline=None, max_examples=60)
def test_rebase_postings_property(pairs, off):
    from dense_retriever_spark.index.codec import rebase_postings

    ids = np.cumsum([g for g, _ in pairs]).astype(np.int64)
    tfs = np.array([t for _, t in pairs], dtype=np.int64)
    dls = tfs * 7 + 3
    blob = encode_postings(ids, tfs, dls)
    i2, t2, d2 = decode_postings(rebase_postings(blob, off))
    assert (i2 == ids + off).all()
    assert (t2 == tfs).all() and (d2 == dls).all()


@given(
    st.lists(
        st.lists(
            st.integers(min_value=0, max_value=5000),
            min_size=1, max_size=12, unique=True,
        ),
        min_size=0, max_size=40,
    )
)
@settings(deadline=None, max_examples=60)
def test_position_stream_property(doc_positions):
    from dense_retriever_spark.index.codec import (
        decode_position_stream,
        encode_position_stream,
    )

    parts = [np.sort(np.array(p, dtype=np.int64)) for p in doc_positions]
    tfs = np.array([len(p) for p in parts], dtype=np.int64)
    flat = (
        np.concatenate(parts).astype(np.int64)
        if parts else np.empty(0, np.int64)
    )
    blob = encode_position_stream(flat, tfs)
    back = decode_position_stream(blob, tfs)
    assert (back == flat).all()
