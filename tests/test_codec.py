"""Codec round-trip: property-based (the query-smith analog, SURVEY §5.2)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from reiz_io_spark.functions import codec


@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_roundtrip(values):
    arr = np.array(values, dtype=np.uint64)
    assert np.array_equal(codec.varint_decode(codec.varint_encode(arr)), arr)


@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=500,
        unique=True,
    )
)
@settings(max_examples=200, deadline=None)
def test_delta_roundtrip(doc_ids):
    arr = np.sort(np.array(doc_ids, dtype=np.int64))
    buf = codec.delta_encode_docids(arr)
    out = codec.delta_decode_docids(int(arr[0]), buf, len(arr))
    assert np.array_equal(out, arr)


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**63), max_value=2**63 - 1),
            st.integers(min_value=1, max_value=10_000),
            st.integers(min_value=1, max_value=100_000),
        ),
        min_size=1,
        max_size=600,
    ),
    st.integers(min_value=1, max_value=128),
)
@settings(max_examples=100, deadline=None)
def test_block_roundtrip(postings, block_size):
    postings = sorted({p[0]: p for p in postings}.values())
    docs = np.array([p[0] for p in postings], dtype=np.int64)
    tfs = np.array([p[1] for p in postings], dtype=np.int64)
    dls = np.array([p[2] for p in postings], dtype=np.int64)
    blocks = codec.encode_term_blocks(docs, tfs, dls, block_size)
    got_docs, got_tfs, got_dls = [], [], []
    for blk in blocks:
        assert blk["n_docs"] <= block_size
        d, t, l = codec.decode_block(blk)
        assert blk["first_doc_id"] == d[0] and blk["last_doc_id"] == d[-1]
        assert blk["max_tf"] == t.max()
        assert blk["min_dl"] == l.min()
        # query-side bound must dominate every posting's contribution
        bound = codec.block_bound(blk["max_tf"], blk["min_dl"], 1.3, 80.0, 1.2, 0.75)
        contribs = codec.bm25_contrib(t, l, 1.3, 80.0, 1.2, 0.75)
        assert float(bound) >= contribs.max() - 1e-12
        got_docs.append(d)
        got_tfs.append(t)
        got_dls.append(l)
    assert np.array_equal(np.concatenate(got_docs), docs)
    assert np.array_equal(np.concatenate(got_tfs), tfs)
    assert np.array_equal(np.concatenate(got_dls), dls)


def test_varint_empty():
    assert codec.varint_encode(np.empty(0, np.uint64)) == b""
    assert codec.varint_decode(b"").size == 0


def test_arrow_encoder_matches_pandas_encoder():
    """r8: encode_blocks_arrow must emit byte-identical block rows to
    encode_blocks_vectorized (same metadata, same payload bytes), and
    decode_postings_batch must invert them exactly — the build and the
    update lifecycle's re-encode both ride these kernels."""
    rng = np.random.default_rng(7)
    # several fragments of varied sizes, sorted by (term, salt, doc)
    tids, salts, docs, tfs, dls = [], [], [], [], []
    for t in range(-3, 4):
        for s in range(2):
            n = int(rng.integers(1, 700))
            d = np.sort(rng.choice(np.arange(-10**12, 10**12, 10**7), n,
                                   replace=False))
            tids.append(np.full(n, t * 7919, dtype=np.int64))
            salts.append(np.full(n, s, dtype=np.int32))
            docs.append(d.astype(np.int64))
            tfs.append(rng.integers(1, 500, n).astype(np.int64))
            dls.append(rng.integers(1, 9000, n).astype(np.int64))
    tids = np.concatenate(tids)
    salts = np.concatenate(salts)
    docs = np.concatenate(docs)
    tfs = np.concatenate(tfs)
    dls = np.concatenate(dls)
    frag = np.empty(tids.size, dtype=bool)
    frag[0] = True
    frag[1:] = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])

    old = codec.encode_blocks_vectorized(tids, docs, tfs, dls, frag, 128)
    rb = codec.encode_blocks_arrow(tids, docs, tfs, dls, frag, 128, 32)
    assert rb.num_rows == len(old["term_id"])
    for col in ("term_id", "block_no", "first_doc_id", "last_doc_id",
                "n_docs", "max_tf", "min_dl"):
        assert np.array_equal(
            rb.column(col).to_numpy(zero_copy_only=False),
            np.asarray(old[col])), col
    for col in ("doc_deltas", "tfs", "dls"):
        got = rb.column(col).to_pylist()
        assert got == [bytes(x) for x in old[col]], col
    assert np.array_equal(
        rb.column("term_bucket").to_numpy(zero_copy_only=False),
        (np.asarray(old["term_id"]) % 32).astype("int32"))

    # batch decode inverts: concatenated payloads -> original postings
    d2, t2, l2 = codec.decode_postings_batch(
        np.asarray(old["first_doc_id"]),
        np.asarray(old["n_docs"]),
        b"".join(bytes(x) for x in old["doc_deltas"]),
        b"".join(bytes(x) for x in old["tfs"]),
        b"".join(bytes(x) for x in old["dls"]),
    )
    assert np.array_equal(d2, docs)
    assert np.array_equal(t2, tfs)
    assert np.array_equal(l2, dls)


def _two_blocks():
    """Two encoded blocks (3 + 2 postings) as decode_postings_batch
    takes them: first doc ids, sizes and the concatenated streams."""
    docs = np.array([10, 20, 35, 7, 9], dtype=np.int64)
    nd = np.array([3, 2], dtype=np.int64)
    gaps = codec.varint_encode(np.array([10, 15, 2], dtype=np.uint64))
    tfs = codec.varint_encode(np.array([1, 2, 3, 4, 5], dtype=np.uint64))
    dls = codec.varint_encode(np.array([9, 8, 7, 6, 5], dtype=np.uint64))
    return docs[[0, 3]], nd, gaps, tfs, dls


def test_decode_postings_batch_rejects_truncated_tf_stream():
    fd, nd, gaps, tfs, dls = _two_blocks()
    d, t, l = codec.decode_postings_batch(fd, nd, gaps, tfs, dls)
    assert d.tolist() == [10, 20, 35, 7, 9]
    with pytest.raises(ValueError, match="tf stream"):
        codec.decode_postings_batch(fd, nd, gaps, tfs[:-1], dls)


def test_decode_postings_batch_rejects_short_doc_gap_stream():
    # one gap for three non-first positions: numpy would broadcast it
    fd, nd, _, tfs, dls = _two_blocks()
    one_gap = codec.varint_encode(np.array([10], dtype=np.uint64))
    with pytest.raises(ValueError, match="doc-gap stream"):
        codec.decode_postings_batch(fd, nd, one_gap, tfs, dls)
