"""Posting-list block codec: delta + varint (LEB128), pure NumPy.

The reference has no index codec (storage is delegated to EdgeDB /
PostgreSQL, reiz/database.py:5-11); the north rule requires
"delta-encoded with varint/PForDelta-style block compression plus
per-block max-score metadata". Everything here is vectorized byte-math
on arrays (shift/mask matrices) — zero per-row Python, per SURVEY.md
§7.4 — because this runs inside Arrow-batched UDFs on the hot path of a
10^12-file index build.

Layout per block (<= BLOCK_SIZE postings of one term, sorted by doc_id):
- metadata columns: first_doc_id, last_doc_id, n_docs, max_tf, min_dl.
  The block-max score bound is NOT stored: BM25's tf-normalization is
  monotone increasing in tf and decreasing in dl, so
  bm25_contrib(max_tf, min_dl, idf, avgdl_now) >= every posting's
  contribution — computed query-side (block_bound below), which keeps
  the bound valid when avgdl drifts under incremental merges
- ``doc_deltas``: varint(delta(doc_ids)[1:]) — first doc is metadata
- ``tfs``:        varint(tf)
- ``dls``:        varint(doclen) — carried per posting so query-time
  scoring is join-free (no 10^12-row docs-table lookup per candidate)

doc_ids are signed int64 (xxhash64 output); deltas of a signed-sorted
sequence are computed in uint64 (mod-2^64 wraparound), which round-trips
exactly via cumulative sum + int64 reinterpretation.
"""

from __future__ import annotations

import numpy as np

_U7 = np.uint64(7)
_MASK = np.uint64(0x7F)
_CONT = np.uint8(0x80)
_MAXB = 10  # ceil(64/7)


def varint_encode_with_lengths(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128-encode a uint64/int64 array (vectorized, no Python loop
    over elements — the constant 10-iteration loop is over byte slots).
    Returns (stream, per-value byte lengths) so callers can slice the
    stream into sub-ranges without re-encoding."""
    v = np.ascontiguousarray(values).view(np.uint64) if values.dtype == np.int64 else values.astype(np.uint64, copy=False)
    n = v.size
    if n == 0:
        return b"", np.empty(0, dtype=np.int64)
    parts = np.empty((n, _MAXB), dtype=np.uint8)
    tmp = v.copy()
    for i in range(_MAXB):
        parts[:, i] = (tmp & _MASK).astype(np.uint8)
        tmp >>= _U7
    nonzero = parts != 0
    lengths = np.where(v == 0, 1, _MAXB - np.argmax(nonzero[:, ::-1], axis=1))
    cont_mask = np.arange(_MAXB) < (lengths - 1)[:, None]
    parts = parts | (cont_mask.astype(np.uint8) << 7)
    keep = np.arange(_MAXB) < lengths[:, None]
    return parts[keep].tobytes(), lengths.astype(np.int64)


def varint_encode(values: np.ndarray) -> bytes:
    return varint_encode_with_lengths(values)[0]


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode a LEB128 stream to uint64 (vectorized via reduceat)."""
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (b & 0x80) == 0
    ends = np.flatnonzero(is_last)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    value_id = np.cumsum(is_last) - is_last  # 0-based id of value each byte belongs to
    pos = np.arange(b.size) - starts[value_id]
    shifted = (b & 0x7F).astype(np.uint64) << (pos.astype(np.uint64) * _U7)
    return np.bitwise_or.reduceat(shifted, starts)


def delta_encode_docids(doc_ids: np.ndarray) -> bytes:
    """Sorted int64 doc_ids -> varint bytes of the gaps (first omitted)."""
    u = doc_ids.astype(np.int64).view(np.uint64)
    return varint_encode(np.diff(u))


def delta_decode_docids(first_doc_id: int, buf: bytes, n_docs: int) -> np.ndarray:
    out = np.empty(n_docs, dtype=np.uint64)
    out[0] = np.array([first_doc_id], dtype=np.int64).view(np.uint64)[0]
    if n_docs > 1:
        out[1:] = varint_decode(buf)
        out = np.cumsum(out, dtype=np.uint64)
    return out.view(np.int64)


def bm25_contrib(
    tf: np.ndarray, dl: np.ndarray, idf: float, avgdl: float, k1: float, b: float
) -> np.ndarray:
    """Exact per-posting BM25 contribution, float64, fixed expression
    order (identical to the oracle's — rank-identity depends on bitwise
    agreement, SURVEY.md §7.4)."""
    tf = tf.astype(np.float64)
    dl = dl.astype(np.float64)
    return idf * (tf * (1.0 + k1)) / (tf + k1 * (1.0 - b + b * (dl / avgdl)))


def block_bound(
    max_tf: np.ndarray | float,
    min_dl: np.ndarray | float,
    idf: float,
    avgdl: float,
    k1: float,
    b: float,
):
    """Upper bound on any posting's BM25 contribution within a block:
    tf-normalization is monotone ↑ in tf and ↓ in dl, so the (max_tf,
    min_dl) corner dominates. Computed at query time against the
    CURRENT avgdl so the bound survives incremental merges."""
    max_tf = np.asarray(max_tf, dtype=np.float64)
    min_dl = np.asarray(min_dl, dtype=np.float64)
    return idf * (max_tf * (1.0 + k1)) / (
        max_tf + k1 * (1.0 - b + b * (min_dl / avgdl))
    )


def encode_term_blocks(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    block_size: int,
) -> list[dict]:
    """Chunk one term's sorted postings into compressed blocks.

    (max_tf, min_dl) are the block-max-WAND bound corner; idf and avgdl
    are applied at query time (block_bound), keeping the stored metadata
    collection-stat-free so merged/older blocks never go stale."""
    n = doc_ids.size
    blocks = []
    for start in range(0, n, block_size):
        end = min(start + block_size, n)
        d = doc_ids[start:end]
        t = tfs[start:end]
        l = dls[start:end]
        blocks.append(
            {
                "block_no": start // block_size,
                "first_doc_id": int(d[0]),
                "last_doc_id": int(d[-1]),
                "n_docs": int(end - start),
                "max_tf": int(t.max()),
                "min_dl": int(l.min()),
                "doc_deltas": delta_encode_docids(d),
                "tfs": varint_encode(t.astype(np.uint64)),
                "dls": varint_encode(l.astype(np.uint64)),
            }
        )
    return blocks


def encode_blocks_vectorized(
    term_ids: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    frag_start: np.ndarray,
    block_size: int,
) -> dict:
    """Encode MANY fragments' blocks in one vectorized pass.

    Code-corpus vocabularies are heavy-tailed (measured 1.35M distinct
    terms for 50k files ⇒ avg posting list < 6 entries), so per-fragment
    Python calls dominate a naive encoder. Here every per-block quantity
    comes from array ops over the whole batch: block boundaries via
    cumsum arithmetic, max_tf / min_dl via np.maximum/minimum.reduceat,
    deltas via one np.diff, and ONE varint pass whose per-value byte
    lengths let us slice the stream per block.

    Inputs are sorted by (term_id, salt, doc_id); ``frag_start`` marks
    the first row of each (term_id, salt) fragment. Returns a dict of
    column arrays matching schema.BLOCKS (payloads as object arrays).
    """
    n = docs.size
    if n == 0:
        return {}
    frag_starts_idx = np.flatnonzero(frag_start)
    frag_id = np.cumsum(frag_start) - 1
    pos_in_frag = np.arange(n, dtype=np.int64) - frag_starts_idx[frag_id]
    is_block_start = (pos_in_frag % block_size) == 0
    block_starts = np.flatnonzero(is_block_start)
    block_ends = np.append(block_starts[1:], n)
    n_docs_b = (block_ends - block_starts).astype(np.int32)

    u = np.ascontiguousarray(docs, dtype=np.int64).view(np.uint64)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = u[1:] - u[:-1]

    keep = ~is_block_start  # first doc of each block lives in metadata
    delta_stream, delta_lens = varint_encode_with_lengths(gaps[keep])
    tf_stream, tf_lens = varint_encode_with_lengths(tfs.astype(np.uint64))
    dl_stream, dl_lens = varint_encode_with_lengths(dls.astype(np.uint64))

    # byte ranges per block: value-count prefix sums -> byte prefix sums
    dv_counts = (n_docs_b - 1).astype(np.int64)
    dv_off = np.concatenate(([0], np.cumsum(dv_counts)))
    d_byte = np.concatenate(([0], np.cumsum(delta_lens)))
    tf_byte = np.concatenate(([0], np.cumsum(tf_lens)))
    dl_byte = np.concatenate(([0], np.cumsum(dl_lens)))

    nb = block_starts.size
    d_lo = d_byte[dv_off[:-1]]
    d_hi = d_byte[dv_off[1:]]
    t_lo = tf_byte[block_starts]
    t_hi = tf_byte[block_ends]
    l_lo = dl_byte[block_starts]
    l_hi = dl_byte[block_ends]
    doc_deltas = [delta_stream[d_lo[i] : d_hi[i]] for i in range(nb)]
    tf_blobs = [tf_stream[t_lo[i] : t_hi[i]] for i in range(nb)]
    dl_blobs = [dl_stream[l_lo[i] : l_hi[i]] for i in range(nb)]

    return {
        "term_id": term_ids[block_starts],
        "block_no": (pos_in_frag[block_starts] // block_size).astype(np.int32),
        "first_doc_id": docs[block_starts],
        "last_doc_id": docs[block_ends - 1],
        "n_docs": n_docs_b,
        "max_tf": np.maximum.reduceat(tfs, block_starts),
        "min_dl": np.minimum.reduceat(dls, block_starts),
        "doc_deltas": doc_deltas,
        "tfs": tf_blobs,
        "dls": dl_blobs,
    }


def encode_blocks_arrow(
    term_ids: np.ndarray,
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    frag_start: np.ndarray,
    block_size: int,
    n_term_buckets: int,
):
    """encode_blocks_vectorized with ZERO per-block Python: the three
    binary columns are built with pyarrow ``Array.from_buffers`` over
    the varint streams directly (r8, guide §4.2 — a binary Arrow column
    is one contiguous data buffer plus an offsets array, and the
    per-block byte ranges are CONTIGUOUS by construction: block i's
    range ends where block i+1's begins). The r7 encoder sliced
    ~3 x n_blocks Python ``bytes`` objects per build (~10M allocations
    at the 200k bench); this emits the same bytes with three buffer
    wraps. Returns a pa.RecordBatch in BLOCKS_WITH_BUCKET column order,
    or None for empty input. Byte-identical payloads to
    encode_blocks_vectorized (pytest-gated)."""
    import pyarrow as pa

    n = docs.size
    if n == 0:
        return None
    frag_starts_idx = np.flatnonzero(frag_start)
    frag_id = np.cumsum(frag_start) - 1
    pos_in_frag = np.arange(n, dtype=np.int64) - frag_starts_idx[frag_id]
    is_block_start = (pos_in_frag % block_size) == 0
    block_starts = np.flatnonzero(is_block_start)
    block_ends = np.append(block_starts[1:], n)
    n_docs_b = (block_ends - block_starts).astype(np.int32)

    u = np.ascontiguousarray(docs, dtype=np.int64).view(np.uint64)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[0] = 0
    gaps[1:] = u[1:] - u[:-1]

    keep = ~is_block_start  # first doc of each block lives in metadata
    delta_stream, delta_lens = varint_encode_with_lengths(gaps[keep])
    tf_stream, tf_lens = varint_encode_with_lengths(tfs.astype(np.uint64))
    dl_stream, dl_lens = varint_encode_with_lengths(dls.astype(np.uint64))

    # per-block byte offsets: value-count prefix sums -> byte prefix
    # sums; ranges are contiguous (ends[i] == starts[i+1]), so the
    # offsets arrays describe the FULL streams with no copying
    dv_counts = (n_docs_b - 1).astype(np.int64)
    dv_off = np.concatenate(([0], np.cumsum(dv_counts)))
    d_byte = np.concatenate(([0], np.cumsum(delta_lens)))
    tf_byte = np.concatenate(([0], np.cumsum(tf_lens)))
    dl_byte = np.concatenate(([0], np.cumsum(dl_lens)))
    bnd = np.append(block_starts, n)

    def _bin(stream: bytes, offsets: np.ndarray) -> pa.Array:
        nb_ = offsets.size - 1
        return pa.Array.from_buffers(
            pa.binary(), nb_,
            [None,
             pa.py_buffer(offsets.astype(np.int32).tobytes()),
             pa.py_buffer(stream)],
        )

    nb = block_starts.size
    tids_b = term_ids[block_starts]
    return pa.RecordBatch.from_arrays(
        [
            pa.array(tids_b, pa.int64()),
            pa.array(
                (pos_in_frag[block_starts] // block_size).astype(np.int32),
                pa.int32()),
            pa.array(docs[block_starts], pa.int64()),
            pa.array(docs[block_ends - 1], pa.int64()),
            pa.array(n_docs_b, pa.int32()),
            pa.array(np.maximum.reduceat(tfs, block_starts), pa.int64()),
            pa.array(np.minimum.reduceat(dls, block_starts), pa.int64()),
            _bin(delta_stream, d_byte[dv_off]),
            _bin(tf_stream, tf_byte[bnd]),
            _bin(dl_stream, dl_byte[bnd]),
            pa.array((tids_b % n_term_buckets).astype(np.int32), pa.int32()),
        ],
        names=[
            "term_id", "block_no", "first_doc_id", "last_doc_id",
            "n_docs", "max_tf", "min_dl", "doc_deltas", "tfs", "dls",
            "term_bucket",
        ],
    )


def decode_postings_batch(
    first_doc_ids: np.ndarray,
    n_docs_b: np.ndarray,
    doc_deltas_cat: bytes,
    tfs_cat: bytes,
    dls_cat: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode MANY blocks' postings in one vectorized pass (r8): the
    inverse of the block encoder for a whole batch — the r7 decoder
    looped per block row in Python (3 varint calls per block, ~3.3M
    blocks at the 200k bench; this was most of the update lifecycle's
    blocks_write attribution). Inputs are the CONCATENATED payload
    streams in row order. Returns (doc_ids int64, tfs int64, dls
    int64) concatenated in the same order. doc_ids use the segmented
    mod-2^64 cumulative sum: exact by telescoping within each block."""
    nd = n_docs_b.astype(np.int64)
    total = int(nd.sum())
    gaps = varint_decode(doc_deltas_cat)
    tfs = varint_decode(tfs_cat).view(np.int64)
    dls = varint_decode(dls_cat).view(np.int64)
    # a short stream would broadcast or misalign silently below
    for name, got, want in (
        ("doc-gap", gaps.size, total - nd.size),
        ("tf", tfs.size, total),
        ("dl", dls.size, total),
    ):
        if got != want:
            raise ValueError(
                f"{name} stream holds {got} values, expected {want} "
                f"for {nd.size} blocks of {total} postings"
            )
    starts = np.concatenate(([0], np.cumsum(nd)))[:-1]
    vals = np.empty(total, dtype=np.uint64)
    # non-start positions get the gaps, in order; start positions get
    # the block's first doc id
    mask = np.ones(total, dtype=bool)
    mask[starts] = False
    vals[mask] = gaps
    fd_u = np.ascontiguousarray(
        first_doc_ids, dtype=np.int64
    ).view(np.uint64)
    vals[starts] = fd_u
    z = np.cumsum(vals, dtype=np.uint64)
    seg_base = z[starts] - vals[starts]  # uint64 wraparound-exact
    doc_ids = (z - np.repeat(seg_base, nd)).view(np.int64)
    return doc_ids, tfs, dls


def decode_block(row) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """blocks-table row -> (doc_ids int64, tfs int64, dls int64)."""
    n = int(row["n_docs"])
    docs = delta_decode_docids(int(row["first_doc_id"]), row["doc_deltas"], n)
    tfs = varint_decode(row["tfs"]).view(np.int64)
    dls = varint_decode(row["dls"]).view(np.int64)
    return docs, tfs, dls
