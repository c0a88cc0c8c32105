"""Round-trip and property tests for the VB/delta/block-max codec."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from search_engine_wikipedia_spark.functions import codec


def test_vb_known_vectors():
    # 1-byte / 2-byte / 3-byte boundaries (IIR §5.3 convention:
    # 7 payload bits/byte, terminator bit on the last byte)
    for vals in ([0], [1], [127], [128], [16383], [16384], [5], [824, 5]):
        enc = codec.vb_encode(np.array(vals, dtype=np.uint64))
        dec = codec.vb_decode(enc)
        assert dec.tolist() == vals
    assert codec.vb_encode(np.array([5], dtype=np.uint64)) == bytes([0x85])
    assert codec.vb_encode(np.array([127], dtype=np.uint64)) == bytes([0xFF])
    assert codec.vb_encode(np.array([128], dtype=np.uint64)) == bytes([0x01, 0x80])
    # IIR worked example: 824 → 00000110 10111000
    assert codec.vb_encode(np.array([824], dtype=np.uint64)) == bytes([0x06, 0xB8])


def test_vb_empty():
    assert codec.vb_encode(np.array([], dtype=np.uint64)) == b""
    assert codec.vb_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**40), max_size=300))
def test_vb_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert codec.vb_decode(codec.vb_encode(arr)).tolist() == vals


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=2**40),  # doc gap basis
            st.integers(min_value=1, max_value=1000),  # tf
            st.integers(min_value=1, max_value=100000),  # fl
        ),
        min_size=1,
        max_size=500,
        unique_by=lambda t: t[0],
    )
)
def test_postings_roundtrip(postings):
    postings.sort()
    doc_ids = np.array([p[0] for p in postings], dtype=np.uint64)
    tfs = np.array([p[1] for p in postings], dtype=np.uint64)
    fls = np.array([p[2] for p in postings], dtype=np.uint64)
    d_blob, t_blob, f_blob, bl, bmt, bmf, d_off, t_off, f_off = (
        codec.encode_postings(doc_ids, tfs, fls)
    )
    d, t, f = codec.decode_postings(d_blob, t_blob, f_blob)
    assert d.tolist() == doc_ids.astype(np.int64).tolist()
    assert t.tolist() == tfs.astype(np.int64).tolist()
    assert f.tolist() == fls.astype(np.int64).tolist()
    # block metadata is consistent
    n = len(postings)
    B = codec.BLOCK_SIZE
    assert len(bl) == (n + B - 1) // B
    for b in range(len(bl)):
        lo, hi = b * B, min((b + 1) * B, n)
        assert bl[b] == int(doc_ids[hi - 1])
        assert bmt[b] == int(tfs[lo:hi].max())
        assert bmf[b] == int(fls[lo:hi].min())


def test_merge_segments_equals_global_encode():
    rng = np.random.default_rng(7)
    doc_ids = np.sort(rng.choice(10_000, size=900, replace=False).astype(np.uint64))
    tfs = rng.integers(1, 50, size=900).astype(np.uint64)
    fls = rng.integers(1, 500, size=900).astype(np.uint64)
    # split into 4 disjoint segments by doc range (as the build does)
    bounds = [0, 200, 450, 700, 900]
    segs = []
    for i in range(4):
        sl = slice(bounds[i], bounds[i + 1])
        segs.append(codec.encode_postings(doc_ids[sl], tfs[sl], fls[sl])[:3])
    d, t, f = codec.decode_concat(
        *zip(*segs), np.diff(bounds).astype(np.int64))
    assert codec.encode_postings(d, t, f) == codec.encode_postings(doc_ids, tfs, fls)


def test_random_block_access():
    rng = np.random.default_rng(11)
    n = 1000  # ~8 blocks of 128
    doc_ids = np.sort(rng.choice(100_000, size=n, replace=False).astype(np.uint64))
    tfs = rng.integers(1, 50, size=n).astype(np.uint64)
    fls = rng.integers(1, 500, size=n).astype(np.uint64)
    enc = codec.encode_postings(doc_ids, tfs, fls)
    d_blob, t_blob, f_blob, bl, bmt, bmf, d_off, t_off, f_off = enc
    nblocks = len(bl)
    # every subset of blocks decodes to exactly those slices
    for subset in ([0], [nblocks - 1], [1, 3], list(range(nblocks))):
        d, t, f = codec.decode_blocks(
            d_blob, t_blob, f_blob, d_off, t_off, f_off,
            np.array(subset, dtype=np.int64),
        )
        expect = np.concatenate([
            doc_ids[b * 128:(b + 1) * 128].astype(np.int64) for b in subset
        ])
        assert d.tolist() == expect.tolist()
        expect_tf = np.concatenate([
            tfs[b * 128:(b + 1) * 128].astype(np.int64) for b in subset
        ])
        assert t.tolist() == expect_tf.tolist()


# ---------------------------------------------------------------------------
# Batched kernels: bit-identity vs the per-group reference path
# ---------------------------------------------------------------------------
def test_encode_groups_matches_per_group():
    import numpy as np

    from search_engine_wikipedia_spark.functions import codec

    rng = np.random.default_rng(42)
    groups = []
    for sizes in ([1], [1, 2, 3], [127, 128, 129, 400], [1000]):
        for n in sizes:
            docs = np.sort(
                rng.choice(5_000_000, size=n, replace=False)
            ).astype(np.uint64)
            tfs = rng.integers(1, 200, size=n).astype(np.uint64)
            fls = rng.integers(1, 4000, size=n).astype(np.uint64)
            groups.append((docs, tfs, fls))
    doc = np.concatenate([g[0] for g in groups])
    tf = np.concatenate([g[1] for g in groups])
    fl = np.concatenate([g[2] for g in groups])
    starts = np.concatenate(
        [[0], np.cumsum([len(g[0]) for g in groups])[:-1]]
    ).astype(np.int64)

    out = codec.encode_groups(doc, tf, fl, starts)
    for i, (d, t, f) in enumerate(groups):
        ref = codec.encode_postings(d, t, f)
        got = tuple(col[i] for col in out)
        assert tuple(ref) == got, f"group {i} mismatch"

    dd, tt, ff = codec.decode_concat(
        out[0], out[1], out[2], np.array([len(g[0]) for g in groups])
    )
    assert np.array_equal(dd, doc.astype(np.int64))
    assert np.array_equal(tt, tf.astype(np.int64))
    assert np.array_equal(ff, fl.astype(np.int64))


# ---------------------------------------------------------------------------
# The re-encode kernel of the merge, compact and optimize_segments
# ---------------------------------------------------------------------------
def _seg_rows(spec):
    """postings_seg-shaped rows: spec = [(term, seg_id, doc_ids)], with
    tf = doc % 7 + 1 and fl = doc % 11 + 3 per posting."""
    import pandas as pd

    rows = []
    for term, seg, docs in spec:
        d = np.asarray(docs, dtype=np.uint64)
        enc = codec.encode_postings(d, d % 7 + 1, d % 11 + 3)
        rows.append({"term": term, "field": "text", "seg_id": seg,
                     "df": d.size, "doc_ids": enc[0], "tfs": enc[1],
                     "fls": enc[2]})
    return pd.DataFrame(rows)


def _decoded(body, i):
    return [a.tolist() for a in codec.decode_postings(
        body["doc_ids"][i], body["tfs"][i], body["fls"][i])]


def test_reencode_drops_regroups_and_refuses_unsorted():
    from search_engine_wikipedia_spark.operators.build import reencode

    spec = [("a", 0, range(0, 300, 2)), ("a", 1, [301, 305]),
            ("a", 2, range(400, 700, 3)), ("b", 1, [302]),
            ("b", 2, [401, 402])]
    chunk = _seg_rows(spec)
    keys = ("term", "field", "seg_id")

    # dropping ids: every posting of a dead doc goes, the rest re-encode
    # exactly as a fresh encode of the survivors; an emptied group goes
    dead = np.array([2, 4, 301, 302, 406], dtype=np.int64)
    first, body = reencode(chunk, keys, dead)
    assert first.tolist() == [0, 1, 2, 4]  # "b"@1 lost its one posting
    for i, r in enumerate(first):
        docs = np.array([d for d in spec[r][2] if d not in set(dead)],
                        dtype=np.uint64)
        want = codec.encode_postings(docs, docs % 7 + 1, docs % 11 + 3)
        assert (body["doc_ids"][i], body["tfs"][i], body["fls"][i],
                body["block_last"][i], body["block_doc_off"][i]) == (
            want[0], want[1], want[2], want[3], want[6])
        assert body["df"][i] == docs.size
        assert body["cf"][i] == int((docs % 7 + 1).sum())
    first, body = reencode(chunk, keys, np.arange(1000))  # all dead
    assert first.size == 0 and body["df"].size == body["cf"].size == 0

    # regrouping consecutive segments: 0+1 → 0 and 2 → 1, one blob per
    # new group, equal to encoding the concatenated lists
    chunk["to"] = chunk["seg_id"].map({0: 0, 1: 0, 2: 1})
    chunk = chunk.sort_values(["term", "field", "to", "seg_id"],
                              ignore_index=True)
    first, body = reencode(chunk, ("term", "field", "to"))
    assert [tuple(chunk.loc[r, ["term", "to"]]) for r in first] == [
        ("a", 0), ("a", 1), ("b", 0), ("b", 1)]
    docs_a0 = np.array(list(range(0, 300, 2)) + [301, 305], dtype=np.uint64)
    assert _decoded(body, 0) == [docs_a0.tolist(),
                                 (docs_a0 % 7 + 1).tolist(),
                                 (docs_a0 % 11 + 3).tolist()]
    assert body["df"].tolist() == [152, 100, 1, 2]

    # a group whose doc ids do not strictly ascend is refused: segment
    # 1 below segment 0, and a doc id in two segments
    for bad in ([("a", 0, [10, 20]), ("a", 1, [5, 30])],
                [("a", 0, [10, 20]), ("a", 1, [20, 30])]):
        chunk = _seg_rows(bad)
        chunk["to"] = 0
        with pytest.raises(ValueError, match="not strictly ascending"):
            reencode(chunk, ("term", "field", "to"))
