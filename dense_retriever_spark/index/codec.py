"""Posting-list codec: delta + varbyte, numpy-vectorized (no per-element Python).

Layout of one posting blob (all little-endian):

    [u64 n_postings][u64 len_ids][u64 len_tfs][u64 len_dls]
    [varbyte(delta(doc_ids))][varbyte(tfs)][varbyte(dls)]

Header fields are u64 so a mega-hot term (df ~ N) stays encodable past the
u32 ceiling of ~4.3B postings — the design targets 10^12 docs where 'def'
or 'import' can exceed 2^32 occurrences.

Varbyte: 7 payload bits per byte, least-significant group first, MSB set on the
TERMINAL byte of each value (classic v-byte). Encode/decode are O(total_bytes)
numpy array ops — the per-value loop is over byte-position (≤ 10 iterations),
never over values. Decode ORs each value's 7-bit groups into place (disjoint
bits, so the OR is the exact integer value).

Decoding is batched: ``decode_postings_batch`` reads the headers of many
blobs as one (m, 4) u64 array, gathers the payload bytes of every blob into
one buffer and decodes them in ONE v-byte pass (a stream always ends on a
terminal byte, so values never straddle streams or blobs), then rebuilds
doc ids with a segmented cumsum. A shard's scorer decodes all of its rows in
one call; ``decode_postings`` is the same kernel on a one-blob list. Per-blob
Python and numpy call overhead, not the byte work, was the cost of decoding
a long tail of short lists one blob at a time.

Reference analog: the reference stores postings implicitly inside FAISS's
binary index file (/root/reference/dense_retriever/transforms/ann_index.py:103-107);
this codec is the rebuild's explicit, inspectable replacement (north_star:
"delta-encoded, varbyte-compressed postings").
"""

from __future__ import annotations

import struct

import numpy as np

#: On-disk index format version, stamped into every index's stats.json
#: and checked at load/search/resume/merge time. v1 = u32 header fields
#: (round 1), v2 = u64 header fields (round 2's 10^12-doc headroom), v3 =
#: no per-block max-score columns in shards/ and a merged-layout global/
#: that is a (term, df, cf) dictionary instead of a second copy of every
#: posting, v4 = one global/gen-<n>/ dictionary that stats.json names (no
#: generational gen=<id>/ segments). Bumping this is the explicit
#: "incompatible format" signal — without it, a v1 index decoded by v2
#: code silently reads payload bytes as lengths (round-2 ADVICE).
FORMAT_VERSION = 4

_MAX_BYTES = 10  # 64 bits / 7


def _varbyte_encode_raw(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized v-byte encode → (uint8 buffer, per-value cumulative byte
    ENDS). The ends array lets batch callers encode many concatenated
    streams in ONE pass and split the buffer at value boundaries — v-byte
    is per-value independent, so the split slices are byte-identical to
    encoding each stream separately."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), np.empty(0, dtype=np.int64)
    # bytes needed per value: 1 + how many thresholds 2^(7i) the value reaches
    n = np.ones(v.size, dtype=np.int64)
    for i in range(1, _MAX_BYTES):
        m = v >= np.uint64(1) << np.uint64(7 * i)
        if not m.any():
            break
        n += m.astype(np.int64)
    ends = np.cumsum(n)
    starts = ends - n
    out = np.zeros(int(ends[-1]), dtype=np.uint8)
    for k in range(_MAX_BYTES):
        mask = n > k
        if not mask.any():
            break
        chunk = (v[mask] >> np.uint64(7 * k)) & np.uint64(0x7F)
        idx = starts[mask] + k
        out[idx] = chunk.astype(np.uint8)
        last = mask & (n == k + 1)
        out[ends[last] - 1] |= 0x80
    return out, ends


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized v-byte encode of a uint64 array."""
    out, _ = _varbyte_encode_raw(values)
    return out.tobytes()


def varbyte_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Vectorized v-byte decode → uint64 array."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray)) else buf
    return _varbyte_values(b, np.flatnonzero(b >= 0x80))


def _varbyte_values(b: np.ndarray, ends: np.ndarray) -> np.ndarray:
    """v-byte values of ``b`` given the index of every terminal byte."""
    if ends.size == 0:
        return np.empty(0, dtype=np.uint64)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    payload = (b & np.uint8(0x7F)).astype(np.uint64)
    vals = payload[starts]
    # OR in byte k of every value longer than k bytes (≤ 9 rounds)
    todo = np.flatnonzero(ends > starts)
    k = 1
    while todo.size:
        at = starts[todo] + k
        vals[todo] |= payload[at] << np.uint64(7 * k)
        todo = todo[ends[todo] > at]
        k += 1
    return vals


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, dls: np.ndarray) -> bytes:
    """Encode one term's postings. doc_ids must be sorted ascending, unique."""
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    deltas = np.empty_like(doc_ids)
    if doc_ids.size:
        deltas[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=deltas[1:])
    ids_b = varbyte_encode(deltas.astype(np.uint64))
    tfs_b = varbyte_encode(np.ascontiguousarray(tfs, dtype=np.uint64))
    dls_b = varbyte_encode(np.ascontiguousarray(dls, dtype=np.uint64))
    header = struct.pack("<QQQQ", doc_ids.size, len(ids_b), len(tfs_b), len(dls_b))
    return header + ids_b + tfs_b + dls_b


HEADER_BYTES = 32  # 4 × u64


def decode_postings_batch(
    blobs: list[bytes],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Decode many posting blobs at once → (counts, doc_ids, tfs, dls).

    ``counts[i]`` is blob i's posting count; the other three are int64 and
    hold every blob's postings concatenated in input order (blob i's slice
    starts at ``cumsum(counts)[i] - counts[i]``), each blob's doc ids sorted
    ascending. Equal to ``decode_postings`` on each blob, concatenated."""
    m = len(blobs)
    if m == 0:
        return tuple(np.empty(0, dtype=np.int64) for _ in range(4))
    heads = b"".join([x[:HEADER_BYTES] for x in blobs])
    if len(heads) != m * HEADER_BYTES:
        raise ValueError("posting blob shorter than its header")
    hdr = np.frombuffer(heads, dtype="<u8").reshape(m, 4).astype(np.int64)
    payload = np.frombuffer(
        b"".join([x[HEADER_BYTES:] for x in blobs]), dtype=np.uint8
    )
    counts = hdr[:, 0]
    streams = hdr[:, 1:].ravel()  # byte length of every (blob, stream)
    sizes = np.fromiter(map(len, blobs), dtype=np.int64, count=m)
    terminal = np.flatnonzero(payload >= 0x80)
    ends = np.cumsum(streams)
    n_upto = np.cumsum(np.repeat(counts, 3))
    # every blob is exactly its header's lengths, and every (blob, stream)
    # holds n values and ends on a terminal byte
    if (
        (hdr[:, 1:].sum(axis=1) != sizes - HEADER_BYTES).any()
        or (np.searchsorted(terminal, ends) != n_upto).any()
        or not (payload[ends[streams > 0] - 1] >= 0x80).all()
    ):
        raise ValueError("posting blob streams disagree with their headers")
    vals = _varbyte_values(payload, terminal).astype(np.int64)
    # blob i's values are [ids | tfs | dls], n_i each, from 3 * first_i on
    first = np.cumsum(counts) - counts
    at = np.repeat(2 * first, counts) + np.arange(vals.size // 3)
    n_rep = np.repeat(counts, counts)
    deltas, tfs, dls = vals[at], vals[at + n_rep], vals[at + 2 * n_rep]
    # segmented cumsum of the deltas: each blob's first id is absolute
    # (int64 wraps, so the subtraction is exact past any overflow)
    c = np.concatenate([[0], np.cumsum(deltas)])
    doc_ids = c[1:] - np.repeat(c[first], counts)
    return counts, doc_ids, tfs, dls


def decode_postings(blob: bytes) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """→ (doc_ids int64 sorted, tfs int64, dls int64)."""
    _counts, doc_ids, tfs, dls = decode_postings_batch([blob])
    return doc_ids, tfs, dls


def _read_one_varbyte(b: bytes, offset: int = 0) -> tuple[int, int]:
    """Decode a single v-byte value; returns (value, bytes_consumed)."""
    val = 0
    shift = 0
    i = offset
    while True:
        byte = b[i]
        val |= (byte & 0x7F) << shift
        i += 1
        if byte & 0x80:
            return val, i - offset
        shift += 7


def rebase_postings(blob: bytes, offset: int) -> bytes:
    """Shift every doc id in a posting blob by ``offset`` — in O(1) work.

    The id stream is delta-encoded with the FIRST value absolute
    (encode_postings: deltas[0] = doc_ids[0]), so a uniform shift touches
    exactly one v-byte group: first_abs += offset; every subsequent delta is
    unchanged. tf and dl streams are untouched. This is what makes
    cross-index merges (index/merge.py) a byte-level copy instead of a
    decode+re-encode of every posting.
    """
    if offset == 0 or blob is None:
        return blob
    n, l1, l2, l3 = struct.unpack_from("<QQQQ", blob, 0)
    if n == 0:
        return blob
    o = HEADER_BYTES
    first_abs, consumed = _read_one_varbyte(blob, o)
    if first_abs + offset < 0:
        raise ValueError(
            f"rebase would produce negative doc id: {first_abs} + {offset}"
        )
    new_first = varbyte_encode(np.array([first_abs + offset], dtype=np.uint64))
    ids_b = new_first + blob[o + consumed : o + l1]
    header = struct.pack("<QQQQ", n, len(ids_b), l2, l3)
    return header + ids_b + blob[o + l1 :]


def encode_position_stream(flat_positions: np.ndarray, tfs: np.ndarray) -> bytes:
    """Encode one term's token positions for positional (phrase) indexes.

    ``flat_positions``: per-doc ascending token positions, docs concatenated
    in posting (doc-id) order; ``tfs``: per-doc position counts — exactly the
    tf stream of the same term's posting blob, so the positions blob needs NO
    header of its own: decode splits on the tfs the caller already has.
    Delta-encoded within each doc (first position absolute per doc), v-byte
    packed — the standard positional-postings layout.
    """
    p = np.ascontiguousarray(flat_positions, dtype=np.int64)
    if p.size == 0:
        return b""
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    starts = np.r_[0, np.cumsum(t)[:-1]]
    deltas = np.empty_like(p)
    deltas[1:] = p[1:] - p[:-1]
    deltas[starts] = p[starts]
    return varbyte_encode(deltas.astype(np.uint64))


def decode_position_stream(blob: bytes, tfs: np.ndarray) -> np.ndarray:
    """Inverse of encode_position_stream → flat int64 positions (per-doc
    ascending, docs in posting order; split with ``np.cumsum(tfs)``)."""
    deltas = varbyte_decode(blob).astype(np.int64)
    if deltas.size == 0:
        return deltas
    t = np.ascontiguousarray(tfs, dtype=np.int64)
    c = np.cumsum(deltas)
    starts = np.r_[0, np.cumsum(t)[:-1]]
    # segmented cumsum: subtract, from every element, the running total
    # accumulated BEFORE its doc's first element
    base = np.zeros(t.size, dtype=np.int64)
    base[1:] = c[starts[1:] - 1]
    return c - np.repeat(base, t)
