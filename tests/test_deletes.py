"""Document deletion: tombstones + compaction (operators/deletes.py).

Contract under test (the Lucene live-docs semantics, reinterpreted for
the versioned-snapshot index):
- a deleted doc vanishes from EVERY query path immediately (wand,
  batch, naive, grep), while surviving docs' scores stay bit-identical
  until compaction (df / n_docs / avgdl stay those of the committed
  block data actually read);
- compact_deletes folds the tombstones: afterwards the index is
  content-identical (dictionary rows, collection stats, ranked
  results) to a from-scratch build over the surviving corpus;
- commits are atomic + time-travelable: a pre-delete snapshot still
  sees the doc, an uncommitted ledger dir is invisible, a re-delete is
  idempotent, and later merges / full re-encodes never resurrect.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from reiz_io_spark.operators.build import (
    build_index,
    merge_and_encode,
    merge_incremental,
    stage1_ingest,
)
from reiz_io_spark.operators.deletes import (
    compact_deletes,
    delete_docs,
    undelete_docs,
)
from reiz_io_spark.operators.score import IndexReader, naive_bm25_topk
from reiz_io_spark.operators.wand import wand_topk, wand_topk_batch
from reiz_io_spark.plans.lower import lower_query
from reiz_io_spark.sources.corpus import synth_corpus

Q = lower_query("flagship", "Call(Name('len'))")
Q2 = lower_query("attr", "Attribute(Name('self'))")


def _topk(reader, q=Q, k=10):
    return [(r["doc_id"], r["score"]) for r in wand_topk(reader, q, k=k).collect()]


@pytest.fixture(scope="module")
def del_index(spark, tmp_path_factory):
    """A private index (the session built_index is shared and must not
    be mutated) + the repo chosen for deletion + pre-delete state."""
    out = str(tmp_path_factory.mktemp("del_index"))
    corpus = synth_corpus(spark, n_filler=60, seed=42).cache()
    build_index(spark, corpus, out, build_id="b0", n_shards=2,
                fragment_postings=64)
    reader = IndexReader(spark, out)
    pre = _topk(reader)
    # delete a repo that holds top-k docs, so exclusion is observable
    top_ids = [d for d, _ in pre]
    victim = (
        reader.docs().filter(F.col("doc_id").isin(top_ids))
        .select("repo").distinct().orderBy("repo").collect()[0]["repo"]
    )
    victim_ids = {
        r["doc_id"]
        for r in reader.docs().filter(F.col("repo") == victim)
        .select("doc_id").collect()
    }
    return {
        "dir": out, "corpus": corpus, "victim": victim,
        "victim_ids": victim_ids, "pre": pre,
        "pre_meta": dict(reader.meta),
    }


@pytest.fixture(scope="module")
def deleted(spark, del_index):
    meta = delete_docs(
        spark, del_index["dir"], F.col("repo") == del_index["victim"]
    )
    return meta


def test_delete_excludes_immediately_scores_unchanged(spark, del_index, deleted):
    r = IndexReader(spark, del_index["dir"])
    post = _topk(r)
    assert not ({d for d, _ in post} & del_index["victim_ids"])
    # Lucene contract: survivors' scores bit-identical pre-compaction
    pre_map = dict(del_index["pre"])
    for d, s in post:
        if d in pre_map:
            assert s == pre_map[d]
    # stats untouched by the delete commit
    assert r.meta["avgdl"] == del_index["pre_meta"]["avgdl"]
    assert r.meta["n_docs"] == del_index["pre_meta"]["n_docs"]
    assert r.meta["n_tombstones_pending"] == len(del_index["victim_ids"])


def test_naive_and_batch_agree_post_delete(spark, del_index, deleted):
    r = IndexReader(spark, del_index["dir"])
    wand = _topk(r)
    naive = [(x["doc_id"], x["score"]) for x in naive_bm25_topk(r, Q, k=10).collect()]
    assert wand == naive
    batch = wand_topk_batch(r, {"q": Q}, k=10).orderBy("rank").collect()
    assert [(x["doc_id"], x["score"]) for x in batch] == wand


def test_redelete_idempotent(spark, del_index, deleted):
    before = IndexReader(spark, del_index["dir"]).meta
    meta2 = delete_docs(
        spark, del_index["dir"], F.col("repo") == del_index["victim"]
    )
    assert meta2["n_tombstones"] == before["n_tombstones"]
    assert meta2["n_tombstones_pending"] == before["n_tombstones_pending"]


def test_time_travel_pre_delete_snapshot_sees_doc(spark, del_index, deleted):
    v1 = IndexReader(spark, del_index["dir"], at_version=1)
    pre = _topk(v1)
    assert pre == del_index["pre"]  # deleted docs visible at v1


def test_uncommitted_ledger_dir_is_invisible(spark, del_index, deleted):
    # a crash AFTER staging but BEFORE the meta flip leaves an orphan
    # tombstones_v dir that no reader resolves
    out = del_index["dir"]
    r = IndexReader(spark, out)
    orphan = os.path.join(out, "tombstones_v99")
    src = os.path.join(out, r.meta["tombstones_dir"])
    shutil.copytree(src, orphan)
    try:
        r2 = IndexReader(spark, out)
        assert r2.meta["tombstones_dir"] != "tombstones_v99"
        assert _topk(r2) == _topk(r)
    finally:
        shutil.rmtree(orphan)


def test_grep_excludes_deleted_and_sidecar_not_stale(spark, del_index, deleted):
    from reiz_io_spark.operators import regexsearch

    out = del_index["dir"]
    if not os.path.exists(os.path.join(out, "trigrams", "meta.json")):
        regexsearch.build_trigram_index(spark, out)
        # built AFTER the delete commit — now bump versions again so the
        # staleness check sees version drift without content drift
        delete_docs(spark, out, F.col("repo") == "no/such/repo")
    # no StaleTrigramIndex despite meta.version > sidecar build version:
    # delete commits add no content batches
    hits = regexsearch.grep_index(spark, out, r"def ").collect()
    assert hits, "grep should still match live docs"
    assert not ({r["doc_id"] for r in hits} & del_index["victim_ids"])
    brute = regexsearch.grep_bruteforce(spark, out, r"def ").collect()
    assert not ({r["doc_id"] for r in brute} & del_index["victim_ids"])
    assert sorted((r["doc_id"], r["n_matches"]) for r in hits) == sorted(
        (r["doc_id"], r["n_matches"]) for r in brute
    )


def test_undelete_pending_restores_exactly(spark, del_index, deleted):
    """Delete a SECOND repo, undelete it: results return bit-identical
    to the single-victim state (postings were never touched)."""
    from reiz_io_spark.operators.deletes import undelete_docs

    out = del_index["dir"]
    before = _topk(IndexReader(spark, out))
    second = "synth/repo001"
    assert second != del_index["victim"]
    delete_docs(spark, out, F.col("repo") == second)
    mid = IndexReader(spark, out)
    second_ids = {
        r["doc_id"]
        for r in mid.docs().filter(F.col("repo") == second)
        .select("doc_id").collect()
    }
    assert not ({d for d, _ in _topk(mid)} & second_ids)
    meta = undelete_docs(spark, out, F.col("repo") == second)
    assert meta["n_tombstones_pending"] == len(del_index["victim_ids"])
    assert _topk(IndexReader(spark, out)) == before


def test_serving_tier_excludes_pending(spark, del_index, deleted):
    """QueryService decodes postings driver-side — its cache must mask
    pending tombstones like the distributed kernels do."""
    from reiz_io_spark.serve import QueryService

    r = IndexReader(spark, del_index["dir"])
    svc = QueryService(r)
    rows = svc.query_topk(Q, k=10)
    ids = {x["doc_id"] for x in rows}
    assert not (ids & del_index["victim_ids"])
    assert [(x["doc_id"], x["score"]) for x in rows] == _topk(r)


def test_compact_equals_fresh_build(spark, del_index, deleted, tmp_path_factory):
    out = del_index["dir"]
    meta = compact_deletes(spark, out)
    assert meta["n_tombstones_pending"] == 0
    rc = IndexReader(spark, out)

    fresh_dir = str(tmp_path_factory.mktemp("fresh"))
    build_index(
        spark,
        del_index["corpus"].filter(F.col("repo") != del_index["victim"]),
        fresh_dir, build_id="b0", n_shards=2, fragment_postings=64,
    )
    rf = IndexReader(spark, fresh_dir)

    assert rc.meta["n_docs"] == rf.meta["n_docs"]
    assert rc.meta["avgdl"] == rf.meta["avgdl"]  # bit-identical float
    for q in (Q, Q2):
        assert _topk(rc, q) == _topk(rf, q)
    dc = sorted(
        (r["term"], r["df"], r["cf"])
        for r in rc.dictionary().select("term", "df", "cf").collect()
    )
    df_ = sorted(
        (r["term"], r["df"], r["cf"])
        for r in rf.dictionary().select("term", "df", "cf").collect()
    )
    assert dc == df_


def test_undelete_folded_refuses(spark, del_index):
    """After compaction the victim's postings are gone — undelete must
    refuse with a pointer at re-ingestion, never half-restore."""
    from reiz_io_spark.operators.deletes import undelete_docs

    out = del_index["dir"]
    before = IndexReader(spark, out).meta
    with pytest.raises(RuntimeError, match="already folded"):
        undelete_docs(spark, out, F.col("repo") == del_index["victim"])
    assert IndexReader(spark, out).meta["version"] == before["version"]


def test_compact_noop_when_nothing_pending(spark, del_index):
    out = del_index["dir"]
    before = IndexReader(spark, out).meta
    assert before["n_tombstones_pending"] == 0  # after the compact test
    after = compact_deletes(spark, out)
    assert after["version"] == before["version"]


def test_incremental_merge_keeps_deletes(spark, del_index):
    """New batch ingested + merged AFTER a compacted delete: deleted
    docs stay gone; stats cover (all lineage docs) - (folded ledger)."""
    out = del_index["dir"]
    extra = synth_corpus(spark, n_filler=12, seed=99).withColumn(
        "repo", F.concat(F.lit("extra/"), F.col("repo"))
    )
    stage1_ingest(spark, extra, out, build_id="b1", n_shards=2)
    meta = merge_incremental(spark, out)
    r = IndexReader(spark, out)
    assert not ({d for d, _ in _topk(r)} & del_index["victim_ids"])
    # the ledger survived the merge commit
    assert meta.get("tombstones_dir")
    n_live_docs = (
        r.docs().filter(F.col("parse_ok"))
        .join(
            r.tombstones().select("doc_id"), "doc_id", "left_anti"
        ).count()
    )
    assert meta["n_docs"] == n_live_docs


def test_full_reencode_does_not_resurrect(spark, del_index):
    """merge_and_encode over the append-only runs log (which still
    holds the deleted docs' postings) anti-joins the ledger."""
    from reiz_io_spark.operators.build import merge_and_encode

    out = del_index["dir"]
    r_before = IndexReader(spark, out)
    top_before = _topk(r_before)
    meta = merge_and_encode(spark, out, build_id="reencode")
    r = IndexReader(spark, out)
    assert not ({d for d, _ in _topk(r)} & del_index["victim_ids"])
    assert _topk(r) == top_before
    assert meta["n_docs"] == r_before.meta["n_docs"]
    assert meta["avgdl"] == r_before.meta["avgdl"]
    assert meta["n_tombstones_pending"] == 0


WRITERS = {
    "delete_docs": lambda s, out: delete_docs(s, out, F.col("repo") == "x"),
    "undelete_docs": lambda s, out: undelete_docs(s, out, F.col("repo") == "x"),
    "compact_deletes": compact_deletes,
    "merge_incremental": merge_incremental,
    "merge_and_encode": lambda s, out: merge_and_encode(
        s, out, build_id="b0", fragment_postings=64
    ),
}


@pytest.mark.parametrize("writer", list(WRITERS))
def test_delete_lock_serializes(spark, del_index, writer):
    """Every index writer refuses while another holds the lock, and
    leaves the committed meta untouched."""
    out = del_index["dir"]
    meta_path = os.path.join(out, "meta.json")
    with open(meta_path) as fh:
        before = fh.read()
    lock = os.path.join(out, "deletes.lock")
    fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    os.close(fd)
    try:
        with pytest.raises(RuntimeError, match="in flight"):
            WRITERS[writer](spark, out)
    finally:
        os.remove(lock)
    with open(meta_path) as fh:
        assert fh.read() == before


def test_gcd_ledger_pointer_raises_not_resurrects(spark, del_index):
    out = del_index["dir"]
    r = IndexReader(spark, out)
    name = r.meta["tombstones_dir"]
    src = os.path.join(out, name)
    moved = src + ".away"
    os.rename(src, moved)
    try:
        with pytest.raises(FileNotFoundError, match="garbage-collected"):
            IndexReader(spark, out).tombstones()
    finally:
        os.rename(moved, src)


def test_pending_cap_refuses_with_pointer_to_compact(spark, del_index):
    out = del_index["dir"]
    r = IndexReader(spark, out)
    meta = dict(r.meta)
    meta["n_tombstones_pending"] = 10_000_001
    r.meta = meta
    with pytest.raises(RuntimeError, match="compact_deletes"):
        r.pending_tombstone_ids()
