"""Property-based codec tests (SURVEY.md §5.1): round-trips over random inputs."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dense_retriever_spark.index.codec import (
    _varbyte_encode_raw,
    decode_position_stream,
    decode_postings,
    decode_postings_batch,
    encode_postings,
    rebase_postings,
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


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varbyte_decode_inverts_raw_encode(xs):
    """Full u64 range, so 10-byte values (>= 2^63) are covered; the raw
    encoder's value ends must be where the decoder splits."""
    arr = np.array(xs, dtype=np.uint64)
    buf, ends = _varbyte_encode_raw(arr)
    assert varbyte_decode(buf).tolist() == xs
    assert ends.tolist() == (np.flatnonzero(buf >= 0x80) + 1).tolist()


def test_varbyte_ten_byte_value():
    big = np.array([2**64 - 1, 2**63, 5], dtype=np.uint64)
    buf, ends = _varbyte_encode_raw(big)
    assert ends.tolist() == [10, 20, 21]
    assert varbyte_decode(buf).tolist() == big.tolist()


def test_decode_position_stream_pinned():
    """Positions with 1-, 2- and 3-byte deltas decode to the values this
    blob has always decoded to."""
    blob = bytes.fromhex("4c7d81619a289d77917635815ad9349d33ca459f2e8e36ac1b8a")
    tfs = np.array([1, 3, 2, 5, 1], dtype=np.int64)
    assert decode_position_stream(blob, tfs).tolist() == [
        32460, 3425, 7177, 9472, 23286, 34768,
        3764, 13287, 17324, 19162, 24848, 1307,
    ]


def _ref_decode(blob: bytes) -> tuple[list, list, list]:
    """Per-byte Python reference decoder of one posting blob."""
    import struct

    n, l1, l2, l3 = struct.unpack_from("<QQQQ", blob, 0)

    def stream(lo, hi):
        out, val, shift = [], 0, 0
        for byte in blob[lo:hi]:
            val |= (byte & 0x7F) << shift
            shift += 7
            if byte & 0x80:
                out.append(val - (1 << 64) if val >= 1 << 63 else val)
                val, shift = 0, 0
        assert len(out) == n
        return out

    o = 32
    deltas = stream(o, o + l1)
    ids = np.cumsum(np.array(deltas, dtype=np.int64)).tolist()
    return ids, stream(o + l1, o + l1 + l2), stream(o + l1 + l2, o + l1 + l2 + l3)


def _check_batch(blobs: list[bytes]) -> None:
    counts, ids, tfs, dls = decode_postings_batch(blobs)
    assert all(a.dtype == np.int64 for a in (counts, ids, tfs, dls))
    want = [_ref_decode(b) for b in blobs]
    assert counts.tolist() == [len(w[0]) for w in want]
    for got, j in ((ids, 0), (tfs, 1), (dls, 2)):
        assert got.tolist() == [x for w in want for x in w[j]]
    per_blob = [decode_postings(b) for b in blobs]
    for got, j in ((ids, 0), (tfs, 1), (dls, 2)):
        assert got.tolist() == [x for p in per_blob for x in p[j].tolist()]


def test_decode_postings_batch_edge_blobs():
    one = lambda d, t, l: encode_postings(  # noqa: E731
        np.array([d], np.int64), np.array([t], np.int64), np.array([l], np.int64)
    )
    counts, ids, tfs, dls = decode_postings_batch([])
    assert counts.size == ids.size == tfs.size == dls.size == 0
    _check_batch([one(0, 1, 1)])
    _check_batch([one(7, 1, 3), one(0, 2, 9), one(5, 1, 1)])
    past32 = np.array([2**32 - 1, 2**32 + 5, 2**40, 2**62], np.int64)
    _check_batch([
        encode_postings(past32, np.ones(4, np.int64), past32[::-1].copy()),
        one(2**33, 3, 2**35),
    ])
    # a dl of -1 is stored as the u64 2^64-1: a 10-byte v-byte value
    ten = encode_postings(
        np.array([3, 2**62], np.int64), np.array([1, 2], np.int64),
        np.array([-1, 2**63 - 1], np.int64),
    )
    assert len(ten) == 32 + 1 + 9 + 2 + 10 + 9
    _check_batch([ten, one(1, 1, 1), ten])
    base = encode_postings(
        np.array([0, 4, 300], np.int64), np.array([1, 2, 3], np.int64),
        np.array([10, 20, 30], np.int64),
    )
    _check_batch([rebase_postings(base, 2**35), base, rebase_postings(base, 129)])
    bad = ten[:-1]
    with pytest.raises(ValueError):
        decode_postings_batch([base, bad])


def test_decode_postings_batch_random():
    rng = np.random.default_rng(11)
    blobs = []
    for _ in range(200):
        n = int(rng.integers(1, 60))
        span = int(rng.choice([n, 1000, 2**20, 2**45]))
        ids = np.sort(rng.choice(span, size=n, replace=False)).astype(np.int64)
        ids += int(rng.integers(0, 2**40))
        blobs.append(encode_postings(
            ids, rng.integers(1, 300, n), rng.integers(1, 2**34, n)
        ))
    _check_batch(blobs)
