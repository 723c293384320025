"""Posting-block physical codec: delta + varint (LEB128), numpy-vectorized.

The reference delegates index storage to Solr (harvester/solr_updater.py:748-766);
this module is the from-scratch replacement for the posting-list physical
format. Everything is vectorized numpy — no per-element Python loops — so it
can run inside Arrow-batched pandas UDFs on executors.

Wire format per block:
- ``doc_id_first`` stored in a table column (int64);
- ``deltas``: varint stream of ``doc_count - 1`` gaps ``id[i] - id[i-1]``
  (strictly positive — doc ids are unique and sorted);
- ``tfs``/``dls``: varint streams of ``doc_count`` tfs / doc lengths.

:func:`decode_blocks` is the one posting-block decoder (merges, queries);
the build's intermediate packs decode their one-stream payload with
:func:`varint_decode` (``index_build._pack_postings``).

Varint = unsigned LEB128: 7 payload bits per byte, high bit = continuation.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128  # postings per block; block-max metadata granularity


def varint_sizes(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte count (for slicing a shared stream per block)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nb = np.ones(v.size, dtype=np.int64)
    x = v >> np.uint64(7)
    while x.any():
        nb += (x > 0).astype(np.int64)
        x >>= np.uint64(7)
    return nb


def varint_encode(values: np.ndarray, nb: np.ndarray | None = None) -> bytes:
    """Encode a 1-D array of non-negative ints as an LEB128 byte stream;
    ``nb``: their :func:`varint_sizes`, when the caller already has them.
    One pass per byte position, over only the values that long."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    if nb is None:
        nb = varint_sizes(v)
    at = np.cumsum(nb) - nb                 # each value's first byte
    out = np.empty(int(at[-1] + nb[-1]), dtype=np.uint8)
    while True:
        more = nb > 1
        out[at] = (v & 0x7F).astype(np.uint8) | (more.astype(np.uint8) << 7)
        if not more.any():
            return out.tobytes()
        at, v, nb = at[more] + 1, v[more] >> np.uint64(7), nb[more] - 1


def varint_decode(buf) -> np.ndarray:
    """Decode an LEB128 byte stream back to a uint64 array: one pass over
    every value's first byte, then one per further byte position over only
    the values that long."""
    b = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(b < 0x80)         # each value's last byte
    if ends.size == b.size:                 # every value one byte (or none)
        return b.astype(np.uint64)
    at = np.concatenate(([0], ends[:-1] + 1))
    vals = (b[at] & 0x7F).astype(np.uint64)
    idx = np.flatnonzero(at < ends)
    at = at[idx]
    shift = np.uint64(7)
    while idx.size:
        at = at + 1
        vals[idx] |= (b[at] & 0x7F).astype(np.uint64) << shift
        more = at < ends[idx]
        idx, at = idx[more], at[more]
        shift += np.uint64(7)
    return vals


def encode_doc_ids(doc_ids: np.ndarray) -> tuple[int, bytes]:
    """Delta+varint encode a sorted unique doc-id run.

    Returns ``(doc_id_first, gaps_varint)`` where gaps are the n-1
    successive differences.
    """
    ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    if ids.size == 0:
        return 0, b""
    gaps = np.diff(ids).astype(np.uint64)
    return int(ids[0]), varint_encode(gaps)


def decode_doc_ids(doc_id_first: int, gaps_varint: bytes, doc_count: int) -> np.ndarray:
    """Inverse of :func:`encode_doc_ids`."""
    out = np.empty(doc_count, dtype=np.int64)
    if doc_count == 0:
        return out
    out[0] = doc_id_first
    if doc_count > 1:
        gaps = varint_decode(gaps_varint).astype(np.int64)
        out[1:] = doc_id_first + np.cumsum(gaps)
    return out


def _stream(cells) -> bytes | np.ndarray:
    """Varint cells as one byte stream: an Arrow binary column's value
    buffer from its first to its last offset (no copy), else a join."""
    import pyarrow as pa

    if isinstance(cells, pa.ChunkedArray):
        cells = cells.combine_chunks()
    if not isinstance(cells, pa.Array):
        return b"".join(cells)
    _, offsets, data = cells.buffers()
    lo, hi = np.frombuffer(offsets, np.int32)[cells.offset:][[0, len(cells)]]
    return np.frombuffer(data, np.uint8)[lo:hi]


def decode_blocks(doc_id_first, doc_count, deltas, tfs, dls
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Posting blocks → ``(doc_id, tf, dl)`` int64 per posting, in block
    order. Per-block first ids and counts (≥ 1); varint cells as Arrow
    binary columns or bytes-like sequences. One varint call per field for
    all blocks, doc ids by a segmented cumulative sum (a per-block loop
    dies on the millions of single-posting blocks rare terms make)."""
    firsts = np.asarray(doc_id_first, dtype=np.int64)
    counts = np.asarray(doc_count, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    vals = np.zeros(int(counts.sum()), dtype=np.int64)
    is_start = np.zeros(vals.size, dtype=bool)
    is_start[starts] = True
    vals[is_start] = firsts
    vals[~is_start] = varint_decode(_stream(deltas)).astype(np.int64)
    # int64 wrap-around in the running sum cancels in the subtraction
    cum = np.cumsum(vals)
    doc_id = cum - np.repeat(cum[starts] - firsts, counts)
    return (doc_id, varint_decode(_stream(tfs)).astype(np.int64),
            varint_decode(_stream(dls)).astype(np.int64))
