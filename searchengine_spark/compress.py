"""Posting-segment physical format — the one module that encodes and
decodes segment blobs (SURVEY.md §4.2 item 1).

There is no Spark primitive for this; blobs are built with numpy inside
one ``mapInArrow`` kernel (``indexer.encode_segments``) that walks the
(bucket, term, salt) runs of sorted token rows and calls
``encode_segment`` once per run, and are stored as parquet BINARY columns
(``indexer.POSTINGS_SCHEMA``). Layout per posting list (always sorted by
doc_id ascending):

* ``doc_blob``: uint64 view of the signed 64-bit doc_id biased by 2^63
  (preserves signed order), delta-encoded, varbyte.
* ``tf_blob``/``dl_blob``: term frequencies / doc lengths, varbyte (no
  delta).
* ``pos_blob``: per posting ``[n, delta1..deltan]`` (first position
  absolute), concatenated, varbyte; n equals the posting's tf.
* block metadata every ``BLOCK`` postings: (last_doc signed i64,
  max_tf_norm float32) where max_tf_norm is the max of
  tf/(tf + k1*(1-b+b*dl/avgdl)) in the block — multiplying by the term's
  idf*(k1+1) gives the exact block-max BM25 partial score used by WAND —
  plus the byte offset where each block starts in doc/tf/dl blobs.

``encode_segment``/``decode_segment`` are the whole-segment entry points
(build, merge, query, fsck); ``decode_segment_block`` decodes one block
for lazy WAND. Varbyte: little-endian 7-bit groups, high bit set on all
but the last byte of each value. Encode and decode are fully vectorized.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

BLOCK = 128
_BIAS = np.uint64(1) << np.uint64(63)


def to_unsigned(doc_ids: np.ndarray) -> np.ndarray:
    """Signed i64 doc_ids -> order-preserving u64."""
    return doc_ids.astype(np.int64).view(np.uint64) + _BIAS


def to_signed(u: np.ndarray) -> np.ndarray:
    return (u - _BIAS).view(np.int64)


def varbyte_nbytes(values: np.ndarray) -> np.ndarray:
    """Encoded byte length of each value: ceil(bit_length/7), min 1."""
    v = values.astype(np.uint64, copy=True)
    nbits = np.zeros(len(v), dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 7
        tmp >>= np.uint64(7)
    return np.maximum(nbits // 7, 1)


def varbyte_encode(values: np.ndarray) -> bytes:
    """Vectorized varbyte encode of a uint64 array."""
    v = values.astype(np.uint64, copy=True)
    if len(v) == 0:
        return b""
    nbytes = varbyte_nbytes(v)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # position of the FIRST byte of each value
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    # byte slot index within each value via repeat trick
    idx = np.arange(total) - np.repeat(starts, nbytes)  # 0..nbytes-1
    val_rep = np.repeat(v, nbytes)
    shifts = (idx * 7).astype(np.uint64)
    chunks = ((val_rep >> shifts) & np.uint64(0x7F)).astype(np.uint8)
    # continuation bit on every byte except the last of each value
    last = np.zeros(total, dtype=bool)
    last[np.cumsum(nbytes) - 1] = True
    chunks[~last] |= 0x80
    out[:] = chunks
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Vectorized varbyte decode -> uint64 array."""
    if not buf:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(buf, dtype=np.uint8)
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.concatenate(([0], ends[:-1] + 1))
    idx = np.arange(len(raw)) - np.repeat(starts, ends - starts + 1)
    shifts = (idx * 7).astype(np.uint64)
    contrib = (raw & np.uint64(0x7F)).astype(np.uint64) << shifts
    # each value's 7-bit groups occupy disjoint bits: a segmented sum
    return np.add.reduceat(contrib, starts)


class PositionCountError(ValueError):
    """``pos_blob`` disagrees with the tfs: a stored per-posting count
    differs from its tf, or the blob holds the wrong number of values."""


class Segment(NamedTuple):
    """One decoded posting list. ``positions`` is flat; posting i owns
    ``positions[pos_offsets[i]:pos_offsets[i + 1]]``. Both are None when
    the pos_blob was not decoded."""

    doc_ids: np.ndarray
    tfs: np.ndarray
    dls: np.ndarray
    positions: np.ndarray | None
    pos_offsets: np.ndarray | None


def _varbyte_blocks(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Varbyte blob of a uint64 array plus each block's start offset."""
    return varbyte_encode(values), block_byte_offsets(varbyte_nbytes(values))


def encode_postings(
    doc_ids: np.ndarray, tfs: np.ndarray, tf_norms: np.ndarray
) -> tuple[bytes, bytes, np.ndarray, np.ndarray, np.ndarray]:
    """Compress one sorted posting list.

    Returns (doc_blob, tf_blob, block_last_doc i64, block_max_norm f32,
    (doc_boff, tf_boff)) — the byte offset where each block's varbytes
    START inside its blob, so a reader can decode one block without
    touching the rest (skip decoding: block i spans boff[i]:boff[i+1],
    the final block ends at len(blob)).
    """
    assert doc_ids.dtype == np.int64
    u = to_unsigned(doc_ids)
    deltas = np.empty_like(u)
    deltas[0] = u[0]
    deltas[1:] = u[1:] - u[:-1]
    doc_blob, doc_boff = _varbyte_blocks(deltas)
    tf_blob, tf_boff = _varbyte_blocks(tfs.astype(np.uint64))
    n = len(doc_ids)
    starts = np.arange(0, n, BLOCK)
    block_last = doc_ids[np.minimum(starts + BLOCK, n) - 1]
    block_max = np.maximum.reduceat(tf_norms, starts).astype(np.float32)
    return doc_blob, tf_blob, block_last, block_max, (doc_boff, tf_boff)


def encode_segment(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    positions: np.ndarray,
    tf_norms: np.ndarray,
    pos_offsets: np.ndarray | None = None,
) -> dict:
    """Every blob and block-metadata column of one ``POSTINGS_SCHEMA``
    row, for a posting list sorted by doc_id. ``positions`` holds one
    ascending position array per posting or, with ``pos_offsets``, their
    flat concatenation — posting i owns
    ``positions[pos_offsets[i]:pos_offsets[i + 1]]``, the layout
    ``decode_segment`` returns and an Arrow ListArray stores."""
    doc_blob, tf_blob, block_last, block_max, (doc_boff, tf_boff) = (
        encode_postings(doc_ids, tfs, tf_norms)
    )
    dl_blob, dl_boff = _varbyte_blocks(dls.astype(np.uint64))
    pos_blob = (
        encode_position_lists(positions) if pos_offsets is None
        else encode_positions(positions, pos_offsets)
    )
    return {
        "n_postings": len(doc_ids),
        "doc_blob": doc_blob,
        "tf_blob": tf_blob,
        "dl_blob": dl_blob,
        "pos_blob": pos_blob,
        "block_last": block_last.tolist(),
        "block_max_norm": block_max.tolist(),
        "doc_boff": doc_boff.tolist(),
        "tf_boff": tf_boff.tolist(),
        "dl_boff": dl_boff.tolist(),
        "max_norm": float(block_max.max()),
    }


def block_byte_offsets(nbytes: np.ndarray, block: int = BLOCK) -> np.ndarray:
    """Byte offset of the first varbyte of every ``block``-th value."""
    cum = np.concatenate(([0], np.cumsum(nbytes)))
    return cum[::block][: (len(nbytes) + block - 1) // block].astype(np.int64)


def decode_block(
    blob: bytes, boff: np.ndarray, block_idx: int
) -> np.ndarray:
    """Decode only block ``block_idx`` of a blob (raw varbyte values —
    deltas for doc blobs; ``decode_doc_block`` re-bases those)."""
    lo = int(boff[block_idx])
    hi = int(boff[block_idx + 1]) if block_idx + 1 < len(boff) else len(blob)
    return varbyte_decode(blob[lo:hi])


def decode_doc_block(
    doc_blob: bytes, doc_boff: np.ndarray, block_last: np.ndarray, lb: int
) -> np.ndarray:
    """Signed doc ids of block ``lb`` alone: its deltas re-based on the
    previous block's last doc (stored in ``block_last``)."""
    deltas = decode_block(doc_blob, doc_boff, lb)
    if lb == 0:
        base = np.uint64(0)
    else:
        # Python-int math so the int64 -> u64 bias wrap is explicit
        base = np.uint64((int(block_last[lb - 1]) + (1 << 63)) & ((1 << 64) - 1))
    return to_signed(base + np.cumsum(deltas, dtype=np.uint64))


def decode_segment_block(seg, lb: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc_ids, tfs, dls) of block ``lb`` of one segment row (a mapping
    with ``POSTINGS_SCHEMA`` keys), touching only that block's bytes."""
    docs = decode_doc_block(
        bytes(seg["doc_blob"]), seg["doc_boff"], seg["block_last"], lb
    )
    tfs = decode_block(bytes(seg["tf_blob"]), seg["tf_boff"], lb)
    dls = decode_block(bytes(seg["dl_blob"]), seg["dl_boff"], lb)
    return docs, tfs.astype(np.int64), dls.astype(np.int64)


def encode_position_lists(plists: np.ndarray) -> bytes:
    """Encode per-posting position lists as the concatenation of
    ``[n, delta1..deltan]`` per list (the ``pos_blob`` layout): flatten
    them, then ``encode_positions``. Byte-identical to encoding each list
    separately and concatenating."""
    nrows = len(plists)
    lens = np.fromiter((len(x) for x in plists), np.int64, nrows)
    offsets = np.zeros(nrows + 1, np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.concatenate(
        [np.asarray(x, np.int64) for x in plists] or [np.empty(0, np.int64)]
    )
    return encode_positions(flat, offsets)


def encode_positions(positions: np.ndarray, offsets: np.ndarray) -> bytes:
    """``pos_blob`` of flat per-posting positions (posting i owns
    ``positions[offsets[i]:offsets[i + 1]]``, ``offsets[0] == 0``) —
    whole-array numpy, no Python step per posting."""
    nrows = len(offsets) - 1
    if nrows <= 0:
        return b""
    lens = np.diff(offsets)
    total = int(offsets[-1])
    if total == 0:
        return varbyte_encode(np.zeros(nrows, np.uint64))
    flat = np.asarray(positions, np.int64)
    deltas = np.empty(total, np.int64)
    deltas[1:] = flat[1:] - flat[:-1]
    starts = offsets[:-1][lens > 0]  # first element of each list is absolute
    deltas[starts] = flat[starts]
    out = np.empty(total + nrows, np.int64)
    cnt_pos = offsets[:-1] + np.arange(nrows)  # count precedes each list
    out[cnt_pos] = lens
    mask = np.ones(total + nrows, dtype=bool)
    mask[cnt_pos] = False
    out[mask] = deltas
    return varbyte_encode(out.astype(np.uint64))


def decode_position_lists(
    pos_blob: bytes, tfs: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of ``encode_position_lists`` given each posting's tf (=
    its position count): (flat positions i64, offsets = [0, cumsum(tf)]).
    Raises ``PositionCountError`` when a stored count differs from its
    tf — one whole-array check instead of walking the blob per posting.
    """
    vals = varbyte_decode(pos_blob).astype(np.int64)
    n = len(tfs)
    offsets = np.zeros(n + 1, np.int64)
    np.cumsum(tfs, out=offsets[1:])
    if len(vals) != offsets[-1] + n:
        raise PositionCountError(
            f"pos_blob holds {len(vals)} values, want sum(tf)+n = {offsets[-1] + n}"
        )
    cnt_at = offsets[:-1] + np.arange(n)
    bad = np.flatnonzero(vals[cnt_at] != tfs)
    if len(bad):
        i = int(bad[0])
        raise PositionCountError(
            f"posting {i} stores {int(vals[cnt_at[i]])} positions, tf is {int(tfs[i])}"
        )
    mask = np.ones(len(vals), dtype=bool)
    mask[cnt_at] = False
    run = np.cumsum(vals[mask])
    # per-list prefix sums: subtract the running total before each list
    before = np.concatenate(([0], run))[offsets[:-1]]
    return run - np.repeat(before, tfs), offsets


def decode_postings(doc_blob: bytes, tf_blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decompress -> (doc_ids i64 sorted, tfs i64)."""
    deltas = varbyte_decode(doc_blob)
    u = np.cumsum(deltas, dtype=np.uint64)
    tfs = varbyte_decode(tf_blob).astype(np.int64)
    return to_signed(u), tfs


def decode_segment(
    doc_blob: bytes, tf_blob: bytes, dl_blob: bytes, pos_blob: bytes | None = None
) -> Segment:
    """Decode one segment row's blobs; positions only when ``pos_blob``
    is given (scoring never reads it)."""
    docs, tfs = decode_postings(doc_blob, tf_blob)
    dls = varbyte_decode(dl_blob).astype(np.int64)
    if pos_blob is None:
        return Segment(docs, tfs, dls, None, None)
    return Segment(docs, tfs, dls, *decode_position_lists(pos_blob, tfs))
