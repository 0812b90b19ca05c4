"""Property tests for the posting-list physical format (SURVEY.md §5.4)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from searchengine_spark.compress import (
    BLOCK,
    PositionCountError,
    decode_doc_block,
    decode_position_lists,
    decode_postings,
    decode_segment,
    encode_position_lists,
    encode_postings,
    encode_segment,
    to_signed,
    to_unsigned,
    varbyte_decode,
    varbyte_encode,
)


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=400))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert (varbyte_decode(varbyte_encode(arr)) == arr).all()


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=500,
        unique=True,
    ),
    st.data(),
)
@settings(max_examples=100, deadline=None)
def test_postings_roundtrip(doc_ids, data):
    docs = np.array(sorted(doc_ids), dtype=np.int64)

    def draw_ints(lo, hi):
        vals = st.integers(min_value=lo, max_value=hi)
        return np.array(
            data.draw(st.lists(vals, min_size=len(docs), max_size=len(docs))),
            dtype=np.int64,
        )

    tfs = draw_ints(1, 10000)
    dls = draw_ints(0, 1 << 40)
    norms = tfs / (tfs + 1.5)
    doc_blob, tf_blob, block_last, block_max, block_off = encode_postings(
        docs, tfs, norms
    )
    d2, t2 = decode_postings(doc_blob, tf_blob)
    assert (d2 == docs).all()
    assert (t2 == tfs).all()
    # block metadata invariants
    n_blocks = (len(docs) + BLOCK - 1) // BLOCK
    assert len(block_last) == n_blocks
    assert block_last[-1] == docs[-1]
    for b in range(n_blocks):
        lo, hi = b * BLOCK, min((b + 1) * BLOCK, len(docs))
        assert block_last[b] == docs[hi - 1]
        assert abs(block_max[b] - norms[lo:hi].max()) < 1e-6
        got = decode_doc_block(doc_blob, block_off[0], block_last, b)
        assert (got == docs[lo:hi]).all()
    # the whole segment, doc lengths included
    plists = np.empty(len(docs), dtype=object)
    plists[:] = [np.arange(t, dtype=np.int64) for t in tfs]
    seg = encode_segment(docs, tfs, dls, plists, norms)
    assert seg["doc_blob"] == doc_blob and seg["tf_blob"] == tf_blob
    assert seg["n_postings"] == len(docs)
    out = decode_segment(seg["doc_blob"], seg["tf_blob"], seg["dl_blob"])
    assert (out.doc_ids == docs).all() and (out.tfs == tfs).all()
    assert (out.dls == dls).all() and out.positions is None


def test_signed_unsigned_order_preserving():
    xs = np.array([-(2**63), -1, 0, 1, 2**63 - 1], dtype=np.int64)
    u = to_unsigned(xs)
    assert (np.diff(u.astype(object)) > 0).all()
    assert (to_signed(u) == xs).all()


@given(
    st.lists(
        st.lists(st.integers(min_value=0, max_value=1 << 20), max_size=40).map(
            sorted
        ),
        max_size=60,
    )
)
def test_encode_position_lists_matches_scalar_reference(plists):
    """Vectorized pos_blob encoding is byte-identical to encoding each
    list separately (the pre-r2 scalar kernel), including empty lists
    (encoded as a bare 0 count) — and decoding it with the list lengths
    as tf gives the lists back."""
    parts = []
    for plist in plists:
        arr = np.asarray(plist, dtype=np.int64)
        if len(arr):
            deltas = np.empty_like(arr)
            deltas[0] = arr[0]
            deltas[1:] = arr[1:] - arr[:-1]
            parts.append(np.concatenate(([len(arr)], deltas)).astype(np.uint64))
        else:
            parts.append(np.zeros(1, dtype=np.uint64))
    expected = varbyte_encode(np.concatenate(parts)) if parts else b""
    arrays = np.empty(len(plists), dtype=object)
    arrays[:] = [np.asarray(p, dtype=np.int64) for p in plists]
    got = encode_position_lists(arrays)
    assert got == expected
    tfs = np.array([len(p) for p in plists], dtype=np.int64)
    flat, offsets = decode_position_lists(got, tfs)
    assert [flat[a:b].tolist() for a, b in zip(offsets, offsets[1:])] == plists


def test_decode_segment_rejects_count_not_equal_tf():
    """A pos_blob whose stored count differs from the posting's tf (same
    total length, so only the per-posting check can catch it) raises."""
    docs = np.array([3, 9], dtype=np.int64)
    tfs = np.array([2, 1], dtype=np.int64)
    plists = np.empty(2, dtype=object)
    plists[:] = [np.array([0, 4]), np.array([7])]
    seg = encode_segment(docs, tfs, tfs, plists, np.ones(2))
    blobs = seg["doc_blob"], seg["tf_blob"], seg["dl_blob"]
    decode_segment(*blobs, seg["pos_blob"])  # consistent: decodes
    # [2, 0, 4, 1, 7] -> [1, 0, 2, 4, 7]: counts 1 and 2 against tfs 2, 1
    bad = varbyte_encode(np.array([1, 0, 2, 4, 7], dtype=np.uint64))
    with pytest.raises(PositionCountError):
        decode_segment(*blobs, bad)
    with pytest.raises(PositionCountError):  # wrong total length
        decode_segment(*blobs, seg["pos_blob"][:-1])
