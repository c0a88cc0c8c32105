"""Posting-list compression: delta gaps + variable-byte, block-max metadata.

The reference relies on Whoosh's internal varint segment format (opaque;
``indexing/index.py`` just calls ``writer.commit()``).  Our engine makes
the codec explicit and columnar-friendly:

* doc IDs are sorted per (term, field), delta-gap encoded, then
  variable-byte (VB) compressed — the classic scheme (Manning/Raghavan/
  Schütze IIR §5.3; also surveyed in the retrieved PAPERS.md entries on
  list compression),
* term frequencies and field lengths are VB-compressed as-is (small
  positive ints compress to ~1 byte),
* per block of ``BLOCK_SIZE`` postings we keep ``(last_doc, max_tf,
  min_fl)`` so the query-time scorer can compute a safe BM25 upper
  bound per block and skip blocks — block-max WAND (Ding & Suel,
  SIGIR'11).

Everything is numpy-vectorized: encode/decode never loop per posting in
Python.  These kernels run inside ``applyInPandas`` during the segment
build/merge and inside the WAND scorer at query time.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


# ---------------------------------------------------------------------------
# Variable-byte codec (vectorized)
# ---------------------------------------------------------------------------
def vb_encode(values: np.ndarray) -> bytes:
    """VB-encode a uint64 array: 7 data bits per byte, MSB set on the
    terminating (least-significant) byte of each value."""
    return _vb_encode_arr(values)[0].tobytes()


def vb_decode(data: bytes) -> np.ndarray:
    """Decode a VB byte string → uint64 array (vectorized)."""
    if not data:
        return np.empty(0, dtype=np.uint64)
    raw = np.frombuffer(data, dtype=np.uint8)
    is_end = (raw & 0x80) != 0
    n_values = int(is_end.sum())
    # group index of each byte: cumulative count of terminators before it
    group = np.zeros(raw.shape, dtype=np.int64)
    group[1:] = np.cumsum(is_end)[:-1]
    payload = (raw & 0x7F).astype(np.uint64)
    out = np.zeros(n_values, dtype=np.uint64)
    # position of byte within its group, from the end:
    ends = np.flatnonzero(is_end)
    pos_from_end = (ends[group] - np.arange(raw.size)).astype(np.uint64)
    np.add.at(out, group, payload << (np.uint64(7) * pos_from_end))
    return out


# ---------------------------------------------------------------------------
# Posting-list blob:  (sorted doc_ids, tfs, fls)  <->  3 VB byte strings.
#
# Delta encoding RESTARTS at every block boundary (the first doc of each
# block is stored absolute).  Combined with per-block byte offsets this
# gives random block access: the WAND scorer decodes only the blocks
# whose [first, block_last] range intersects the candidate set.
# ---------------------------------------------------------------------------
def _vb_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Number of VB bytes each value will occupy (vectorized)."""
    nbytes = np.ones(values.shape, dtype=np.int64)
    v = values >> np.uint64(7)
    while v.any():
        nbytes += (v > 0).astype(np.int64)
        v >>= np.uint64(7)
    return nbytes


def _block_offsets(values: np.ndarray, n: int) -> list:
    """Byte offset of each BLOCK_SIZE-block start within vb_encode(values)."""
    nbytes = _vb_byte_lengths(values)
    starts = np.concatenate([[0], np.cumsum(nbytes)[:-1]])
    return [int(starts[b]) for b in range(0, n, BLOCK_SIZE)]


def encode_postings(doc_ids: np.ndarray, tfs: np.ndarray, fls: np.ndarray):
    """Encode one posting list.

    ``doc_ids`` must be sorted ascending and unique.  Returns a tuple
    ``(doc_blob, tf_blob, fl_blob, block_last, block_max_tf,
    block_min_fl, block_doc_off, block_tf_off, block_fl_off)``.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    fls = np.asarray(fls, dtype=np.uint64)
    n = doc_ids.size
    gaps = np.empty_like(doc_ids)
    if n:
        gaps[0] = doc_ids[0]
        np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
        gaps[np.arange(0, n, BLOCK_SIZE)] = doc_ids[np.arange(0, n, BLOCK_SIZE)]
    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    block_last = np.empty(nblocks, dtype=np.int64)
    block_max_tf = np.empty(nblocks, dtype=np.int64)
    block_min_fl = np.empty(nblocks, dtype=np.int64)
    for b in range(nblocks):
        lo, hi = b * BLOCK_SIZE, min((b + 1) * BLOCK_SIZE, n)
        block_last[b] = int(doc_ids[hi - 1])
        block_max_tf[b] = int(tfs[lo:hi].max())
        block_min_fl[b] = int(fls[lo:hi].min())
    return (
        vb_encode(gaps),
        vb_encode(tfs),
        vb_encode(fls),
        block_last.tolist(),
        block_max_tf.tolist(),
        block_min_fl.tolist(),
        _block_offsets(gaps, n),
        _block_offsets(tfs, n),
        _block_offsets(fls, n),
    )


# ---------------------------------------------------------------------------
# Batched (many-groups-at-once) kernels.
#
# applyInPandas pays ~1-3 ms of Arrow/pandas machinery PER GROUP, which
# dominates when the vocabulary is large and posting lists short (the
# common case: Zipf tail).  These kernels encode/decode EVERY group in a
# partition with whole-array numpy ops; per-group Python work reduces to
# byte slicing.  Output is bit-identical to encode_postings per group
# (property-tested in tests/test_codec.py).
# ---------------------------------------------------------------------------
def _vb_encode_arr(values: np.ndarray):
    """VB-encode an array → (uint8 buffer, per-value byte lengths)."""
    values = np.asarray(values, dtype=np.uint64)
    if values.size == 0:
        return np.empty(0, dtype=np.uint8), np.zeros(0, dtype=np.int64)
    nbytes = _vb_byte_lengths(values)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    ends = np.cumsum(nbytes)
    max_len = int(nbytes.max())
    shifted = values.copy()
    for pos in range(max_len):  # ≤10 iterations, each vectorized
        idx = nbytes > pos
        target = ends[idx] - 1 - pos
        byte = (shifted[idx] & np.uint64(0x7F)).astype(np.uint8)
        if pos == 0:
            byte |= np.uint8(0x80)
        out[target] = byte
        shifted = shifted >> np.uint64(7)
    return out, nbytes


def _slice_per_group(buf: np.ndarray, cs0: np.ndarray,
                     group_starts: np.ndarray, group_ends: np.ndarray):
    """bytes of each group's value-run given per-value byte cumsum."""
    raw = buf.tobytes()
    bs, be = cs0[group_starts], cs0[group_ends]
    return [raw[int(a):int(b)] for a, b in zip(bs, be)]


def encode_groups(doc_ids: np.ndarray, tfs: np.ndarray, fls: np.ndarray,
                  group_starts: np.ndarray):
    """Encode MANY posting lists at once.

    Inputs are the concatenation of all groups — each group contiguous,
    doc_ids ascending within each group; ``group_starts`` are the start
    indices (int64).  Returns 9 per-group lists matching
    ``encode_postings`` output: (doc_blobs, tf_blobs, fl_blobs,
    block_last, block_max_tf, block_min_fl, d_off, t_off, f_off).
    """
    n = doc_ids.size
    G = group_starts.size
    if n == 0 or G == 0:
        return ([], [], [], [], [], [], [], [], [])
    doc_ids = np.asarray(doc_ids, dtype=np.uint64)
    tfs = np.asarray(tfs, dtype=np.uint64)
    fls = np.asarray(fls, dtype=np.uint64)
    bounds = np.append(group_starts, n)
    sizes = np.diff(bounds)
    gid = np.repeat(np.arange(G), sizes)
    pos = np.arange(n) - np.repeat(group_starts, sizes)
    is_abs = (pos % BLOCK_SIZE) == 0  # block starts (incl. group starts)

    gaps = np.empty_like(doc_ids)
    gaps[0] = doc_ids[0]
    np.subtract(doc_ids[1:], doc_ids[:-1], out=gaps[1:])
    gaps[is_abs] = doc_ids[is_abs]

    enc = {}
    for name, vals in (("d", gaps), ("t", tfs), ("f", fls)):
        buf, nb = _vb_encode_arr(vals)
        cs0 = np.concatenate([[0], np.cumsum(nb)])
        enc[name] = (buf, cs0)

    blobs = {
        name: _slice_per_group(buf, cs0, group_starts, bounds[1:])
        for name, (buf, cs0) in enc.items()
    }

    # block-level metadata (blocks never span groups: every group start
    # is a block start)
    bstarts = np.flatnonzero(is_abs)
    bends = np.append(bstarts[1:], n)
    blast = doc_ids[bends - 1].astype(np.int64)
    bmax_tf = np.maximum.reduceat(tfs, bstarts).astype(np.int64)
    bmin_fl = np.minimum.reduceat(fls, bstarts).astype(np.int64)
    # block→group boundaries: index of first block of each group
    bgs = np.searchsorted(bstarts, group_starts)
    bge = np.append(bgs[1:], bstarts.size)
    block_last = [blast[a:b].tolist() for a, b in zip(bgs, bge)]
    block_max_tf = [bmax_tf[a:b].tolist() for a, b in zip(bgs, bge)]
    block_min_fl = [bmin_fl[a:b].tolist() for a, b in zip(bgs, bge)]

    offs = {}
    for name, (buf, cs0) in enc.items():
        # byte offset of each block start, relative to its group start
        block_abs = cs0[bstarts]
        group_abs = cs0[group_starts]
        rel = block_abs - np.repeat(group_abs, bge - bgs)
        offs[name] = [rel[a:b].tolist() for a, b in zip(bgs, bge)]

    return (blobs["d"], blobs["t"], blobs["f"],
            block_last, block_max_tf, block_min_fl,
            offs["d"], offs["t"], offs["f"])


def decode_concat(doc_blobs, tf_blobs, fl_blobs, dfs: np.ndarray):
    """Decode MANY posting blobs at once.

    ``dfs[i]`` is the posting count of blob i.  Returns (doc_ids, tfs,
    fls) as single concatenated int64 arrays (blob i occupies the slice
    [cumsum(dfs)[i-1], cumsum(dfs)[i]) ).
    """
    total = int(np.sum(dfs))
    if total == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    gaps = vb_decode(b"".join(doc_blobs)).astype(np.int64)
    tfs = vb_decode(b"".join(tf_blobs)).astype(np.int64)
    fls = vb_decode(b"".join(fl_blobs)).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(dfs)[:-1]]).astype(np.int64)
    sizes = np.asarray(dfs, dtype=np.int64)
    pos = np.arange(total) - np.repeat(starts, sizes)
    is_abs = (pos % BLOCK_SIZE) == 0  # per-blob block restarts
    # grouped cumsum with restart at every absolute position
    c = np.cumsum(gaps)
    rstarts = np.flatnonzero(is_abs)
    base = c[rstarts] - gaps[rstarts]
    rsizes = np.diff(np.append(rstarts, total))
    doc_ids = c - np.repeat(base, rsizes)
    return doc_ids, tfs, fls


def _undelta_blocked(gaps: np.ndarray) -> np.ndarray:
    """Grouped cumsum with per-block restart (first of block absolute)."""
    n = gaps.size
    if n == 0:
        return gaps.astype(np.int64)
    c = np.cumsum(gaps.astype(np.int64))
    starts = np.arange(0, n, BLOCK_SIZE)
    # sum of everything before each block start
    base = c[starts] - gaps[starts].astype(np.int64)
    sizes = np.diff(np.append(starts, n))
    return c - np.repeat(base, sizes)


def decode_postings(doc_blob: bytes, tf_blob: bytes, fl_blob: bytes):
    """Decode a full posting list → (doc_ids, tfs, fls) int64 arrays."""
    gaps = vb_decode(doc_blob)
    doc_ids = _undelta_blocked(gaps)
    tfs = vb_decode(tf_blob).astype(np.int64)
    fls = vb_decode(fl_blob).astype(np.int64)
    return doc_ids, tfs, fls


def decode_blocks(
    doc_blob: bytes,
    tf_blob: bytes,
    fl_blob: bytes,
    block_doc_off: list,
    block_tf_off: list,
    block_fl_off: list,
    block_indices: np.ndarray,
):
    """Decode only the selected blocks (sorted indices) of a posting list.

    Returns (doc_ids, tfs, fls) restricted to those blocks — the
    random-access path used by the block-max scorer to skip blocks.
    """
    d_end = list(block_doc_off[1:]) + [len(doc_blob)]
    t_end = list(block_tf_off[1:]) + [len(tf_blob)]
    f_end = list(block_fl_off[1:]) + [len(fl_blob)]
    doc_parts, tf_parts, fl_parts = [], [], []
    for b in block_indices:
        b = int(b)
        gaps = vb_decode(doc_blob[block_doc_off[b]:d_end[b]])
        doc_parts.append(np.cumsum(gaps.astype(np.int64)))  # first is absolute
        tf_parts.append(vb_decode(tf_blob[block_tf_off[b]:t_end[b]]).astype(np.int64))
        fl_parts.append(vb_decode(fl_blob[block_fl_off[b]:f_end[b]]).astype(np.int64))
    if not doc_parts:
        z = np.empty(0, dtype=np.int64)
        return z, z.copy(), z.copy()
    return (
        np.concatenate(doc_parts),
        np.concatenate(tf_parts),
        np.concatenate(fl_parts),
    )
