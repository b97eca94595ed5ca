"""Incremental merge: new batches fold into the existing index reading
only their own runs, with content identity to a from-scratch rebuild
(VERDICT r01 item 5), and cross-batch re-ingest is a no-op (ADVICE)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reiz_io_spark.operators.build import (
    merge_and_encode,
    merge_incremental,
    read_runs,
    stage1_ingest,
)
from reiz_io_spark.sources.corpus import synth_corpus
from tests.test_resume import _decoded_index, _vdir


def _block_rows(spark, out):
    """Multiset of full block rows (payload bytes included) — byte-level
    block identity, independent of file layout."""
    rows = spark.read.parquet(_vdir(out, "blocks")).collect()
    return sorted(
        (
            r["term_id"], r["block_no"], r["first_doc_id"], r["last_doc_id"],
            r["n_docs"], r["max_tf"], r["min_dl"],
            bytes(r["doc_deltas"]), bytes(r["tfs"]), bytes(r["dls"]),
        )
        for r in rows
    )


@pytest.fixture(scope="module")
def split_corpus(spark):
    corpus = synth_corpus(spark, n_filler=100, seed=11).cache()
    a = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == 0).cache()
    b = corpus.filter(F.pmod(F.xxhash64("path"), F.lit(2)) == 1).cache()
    return corpus, a, b


def test_incremental_merge_matches_full_rebuild(spark, split_corpus, tmp_path):
    _, a, b = split_corpus

    inc_dir = str(tmp_path / "inc")
    stage1_ingest(spark, a, inc_dir, build_id="b0", n_shards=4)
    merge_and_encode(spark, inc_dir, build_id="b0", fragment_postings=64)
    stage1_ingest(spark, b, inc_dir, build_id="b1", n_shards=4)
    # functional proof the merge never reads the old batch's runs: make
    # the b0 docs partition, which the runs view reads, unreadable
    # (empty the parquet files) for the merge, then restore it for the
    # identity checks below
    import glob
    import os

    b0_files = glob.glob(inc_dir + "/docs/batch=b0/**/*.parquet", recursive=True)
    assert b0_files
    saved = {}
    for f in b0_files:
        with open(f, "rb") as fh:
            saved[f] = fh.read()
        os.truncate(f, 0)
    meta = merge_incremental(spark, inc_dir)
    for f, data in saved.items():
        with open(f, "wb") as fh:
            fh.write(data)

    full_dir = str(tmp_path / "full")
    stage1_ingest(spark, a, full_dir, build_id="b0", n_shards=4)
    stage1_ingest(spark, b, full_dir, build_id="b1", n_shards=4)
    meta_full = merge_and_encode(spark, full_dir, build_id="full", fragment_postings=64)

    # the merge read ONLY the new batch's runs partitions (it succeeded
    # with b0's docs files truncated to zero bytes)
    assert meta["last_merge_new_batches"] == ["b1"]

    # semantic AND byte-level content identity with the full rebuild
    assert _decoded_index(spark, inc_dir) == _decoded_index(spark, full_dir)
    assert _block_rows(spark, inc_dir) == _block_rows(spark, full_dir)
    assert meta["n_docs"] == meta_full["n_docs"]
    assert meta["avgdl"] == meta_full["avgdl"]

    # replaying the merge with no new batches is a no-op
    again = merge_incremental(spark, inc_dir)
    assert "last_merge_new_batches" not in again or again["merged_batches"] == meta["merged_batches"]
    assert _block_rows(spark, inc_dir) == _block_rows(spark, full_dir)


def test_fragment_postings_respected_incrementally(spark, split_corpus, tmp_path):
    """Hot-term fan-out uses the UPDATED df: build with a tiny fragment
    target so batch B pushes terms over the threshold, forcing re-salt —
    still content-identical to the rebuild."""
    _, a, b = split_corpus
    inc_dir = str(tmp_path / "inc_frag")
    stage1_ingest(spark, a, inc_dir, build_id="b0", n_shards=4)
    merge_and_encode(spark, inc_dir, build_id="b0", fragment_postings=16)
    stage1_ingest(spark, b, inc_dir, build_id="b1", n_shards=4)
    merge_incremental(spark, inc_dir)

    full_dir = str(tmp_path / "full_frag")
    stage1_ingest(spark, a, full_dir, build_id="b0", n_shards=4)
    stage1_ingest(spark, b, full_dir, build_id="b1", n_shards=4)
    merge_and_encode(spark, full_dir, build_id="full", fragment_postings=16)
    assert _block_rows(spark, inc_dir) == _block_rows(spark, full_dir)


def test_cross_batch_reingest_is_noop(spark, split_corpus, tmp_path):
    """Re-delivering already-ingested files in a later batch must not
    duplicate postings or inflate df/cf/n_docs."""
    _, a, _ = split_corpus
    out = str(tmp_path / "reingest")
    stage1_ingest(spark, a, out, build_id="b0", n_shards=4)
    meta0 = merge_and_encode(spark, out, build_id="b0", fragment_postings=64)
    before = _decoded_index(spark, out)

    # same files again under a new batch id
    stage1_ingest(spark, a, out, build_id="b1", n_shards=4)
    runs_b1 = read_runs(spark, out).filter(F.col("batch") == "b1")
    assert runs_b1.count() == 0
    meta1 = merge_incremental(spark, out)
    assert _decoded_index(spark, out) == before
    assert meta1["n_docs"] == meta0["n_docs"]
    assert meta1["avgdl"] == meta0["avgdl"]


def test_three_batch_incremental_chain(spark, split_corpus, tmp_path):
    """Two successive incremental merges (3 batches total) still equal
    the one-shot rebuild — merged_batches bookkeeping survives chains."""
    corpus, a, b = split_corpus
    b1 = b.filter(F.pmod(F.xxhash64("repo"), F.lit(2)) == 0)
    b2 = b.filter(F.pmod(F.xxhash64("repo"), F.lit(2)) == 1)

    inc_dir = str(tmp_path / "chain")
    stage1_ingest(spark, a, inc_dir, build_id="c0", n_shards=4)
    merge_and_encode(spark, inc_dir, build_id="c0", fragment_postings=64)
    stage1_ingest(spark, b1, inc_dir, build_id="c1", n_shards=4)
    m1 = merge_incremental(spark, inc_dir)
    assert m1["last_merge_new_batches"] == ["c1"]
    stage1_ingest(spark, b2, inc_dir, build_id="c2", n_shards=4)
    m2 = merge_incremental(spark, inc_dir)
    assert m2["last_merge_new_batches"] == ["c2"]
    assert set(m2["merged_batches"]) == {"c0", "c1", "c2"}

    full_dir = str(tmp_path / "chain_full")
    stage1_ingest(spark, a, full_dir, build_id="c0", n_shards=4)
    stage1_ingest(spark, b1, full_dir, build_id="c1", n_shards=4)
    stage1_ingest(spark, b2, full_dir, build_id="c2", n_shards=4)
    merge_and_encode(spark, full_dir, build_id="full", fragment_postings=64)
    assert _block_rows(spark, inc_dir) == _block_rows(spark, full_dir)
    assert _decoded_index(spark, inc_dir) == _decoded_index(spark, full_dir)


def test_crash_before_commit_leaves_index_consistent(
    spark, split_corpus, tmp_path, monkeypatch
):
    """Atomic-commit contract (VERDICT r02 item 3 / ADVICE): a merge
    that dies at ANY point before the meta.json flip leaves the
    previous committed (dictionary, blocks) pair fully intact — a
    concurrent reader never sees a mixed state — and the REPLAY applies
    the dictionary deltas exactly once (no df/cf double-count)."""
    import json
    import os

    from reiz_io_spark.operators import build as buildmod
    from reiz_io_spark.operators.score import IndexReader

    _, a, b = split_corpus
    out = str(tmp_path / "crash")
    stage1_ingest(spark, a, out, build_id="b0", n_shards=4)
    merge_and_encode(spark, out, build_id="b0", fragment_postings=64)
    # the committed QUERY surface = (postings, dictionary); docs/runs
    # are append-only staging tables that legitimately grow at stage-1
    postings0, _, dict0 = _decoded_index(spark, out)
    with open(out + "/meta.json") as fh:
        meta_before = json.load(fh)

    stage1_ingest(spark, b, out, build_id="b1", n_shards=4)

    # crash at the worst moment: both new version dirs fully assembled,
    # one instruction before the atomic flip
    def boom(meta_path, meta):
        raise RuntimeError("simulated crash before commit")

    monkeypatch.setattr(buildmod, "_write_meta_atomic", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_incremental(spark, out)
    monkeypatch.undo()

    # a reader opening the index now sees the OLD committed state, whole
    with open(out + "/meta.json") as fh:
        meta_now = json.load(fh)
    assert meta_now == meta_before  # pointer pair + merged_batches untouched
    postings1, _, dict1 = _decoded_index(spark, out)
    assert (postings1, dict1) == (postings0, dict0)
    r = IndexReader(spark, out)
    assert r.paths["dictionary"].endswith(meta_before.get("dictionary_dir", "dictionary_v1"))

    # replay completes and the dictionary deltas are applied ONCE:
    # df/cf equal a from-scratch rebuild of a+b
    merge_incremental(spark, out)
    full_dir = str(tmp_path / "crash_full")
    stage1_ingest(spark, a, full_dir, build_id="b0", n_shards=4)
    stage1_ingest(spark, b, full_dir, build_id="b1", n_shards=4)
    merge_and_encode(spark, full_dir, build_id="full", fragment_postings=64)
    assert _decoded_index(spark, out) == _decoded_index(spark, full_dir)
    assert _block_rows(spark, out) == _block_rows(spark, full_dir)

    # GC retention: current + previous versions only, and the previous
    # version (the pre-merge reader's snapshot) is still readable
    vers = sorted(
        d for d in os.listdir(out) if d.startswith(("dictionary_v", "blocks_v"))
    )
    with open(out + "/meta.json") as fh:
        committed = json.load(fh)
    assert committed["dictionary_dir"] in vers and committed["blocks_dir"] in vers
    assert spark.read.parquet(
        os.path.join(out, meta_before["dictionary_dir"])
    ).count() > 0
