"""Mutation-order races between delete / compact / merge / serve
(ADVICE r06): a batch can land (lineage 'done') before it is merged,
and a serving process can refresh mid-request. Contracts pinned here:

- compact_deletes folds ONLY tombstones whose docs' postings are in
  the blocks (merged batches); tombstones of landed-but-unmerged
  batches stay PENDING, so dictionary df never desyncs from block
  contents and collection stats stay those of the merged corpus.
- merge_incremental anti-joins FOLDED tombstones out of the new
  batches' runs (a folded doc must never resurface), while PENDING
  docs' postings are encoded and masked at read — the Lucene
  live-docs contract — so a later compaction subtracts exactly what
  the merge added.
- a stale revert sidecar (its untombstone target folded between
  update_docs staging and the merge applying it) is SKIPPED and
  reported, not a permanent poison of the shared merge path.
- QueryService publishes each committed snapshot as ONE immutable
  bundle: a refresh mid-request can never hand a query old idf with
  new postings/avgdl.
- a crash at any commit point of delete, undelete, compact or update
  (ledger staging, version assembly, the meta flip) leaves the previous
  snapshot serving, and a replay converges to the index a clean run
  produces; a failed delta commit leaks no persisted DataFrame.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from reiz_io_spark.operators import build as B
from reiz_io_spark.operators import deletes as D
from reiz_io_spark.operators.build import (
    _decode_blocks_to_postings,
    build_index,
    merge_incremental,
    stage1_ingest,
    table_dir,
)
from reiz_io_spark.operators.deletes import (
    TOMBSTONES_SCHEMA,
    compact_deletes,
    delete_docs,
    undelete_docs,
)
from reiz_io_spark.operators.updates import update_docs
from reiz_io_spark.operators.fsck import fsck_index
from reiz_io_spark.operators.score import IndexReader
from reiz_io_spark.operators.wand import wand_topk
from reiz_io_spark.plans.lower import lower_query
from reiz_io_spark.sources.corpus import synth_corpus

Q = lower_query("flagship", "Call(Name('len'))")


def _result_ids(reader, q=Q, k=100):
    return {r["doc_id"] for r in wand_topk(reader, q, k=k).collect()}


def _deep_green(spark, out):
    rep = fsck_index(spark, out, deep=True)
    bad = {k: v for k, v in rep.items() if not v["ok"]}
    assert not bad, bad


def _build_with_landed_batch(spark, tmp_path, name):
    """Index with b0 MERGED and b1 landed-but-unmerged."""
    out = str(tmp_path / name)
    base = synth_corpus(spark, n_filler=24, seed=7)
    build_index(spark, base, out, build_id="b0", n_shards=2,
                fragment_postings=64)
    extra = synth_corpus(spark, n_filler=8, seed=8).withColumn(
        "repo", F.concat(F.lit("late/"), F.col("repo"))
    )
    stage1_ingest(spark, extra, out, build_id="b1", n_shards=2)
    return out


def test_delete_compact_merge_unmerged_batch_no_resurface(spark, tmp_path):
    """ADVICE r06 #1+#2 scenario: delete docs of a landed-but-unmerged
    batch, compact, THEN merge. The docs must not resurface, stats and
    dictionary must stay consistent at every commit, and a final
    compaction folds them for real."""
    out = _build_with_landed_batch(spark, tmp_path, "race1")
    r0 = IndexReader(spark, out)
    pre_meta = dict(r0.meta)

    delete_docs(spark, out, F.col("repo").startswith("late/"))
    victim_ids = {
        r["doc_id"]
        for r in IndexReader(spark, out).docs()
        .filter(F.col("repo").startswith("late/"))
        .select("doc_id").collect()
    }
    assert victim_ids

    # compact: every pending tombstone awaits its merge -> no fold, no
    # stats change (folding would subtract df never encoded)
    meta_c = compact_deletes(spark, out)
    assert meta_c["n_tombstones_pending"] == len(victim_ids)
    assert meta_c["n_docs"] == pre_meta["n_docs"]
    assert meta_c["avgdl"] == pre_meta["avgdl"]
    ledger = spark.read.schema(TOMBSTONES_SCHEMA).parquet(
        os.path.join(out, meta_c["tombstones_dir"])
    )
    assert ledger.filter(F.col("folded")).count() == 0
    _deep_green(spark, out)

    # merge the landed batch: pending docs' postings encode (masked at
    # read), folded none -> queries never see the victims
    meta_m = merge_incremental(spark, out)
    assert "b1" in meta_m["merged_batches"]
    r1 = IndexReader(spark, out)
    assert not (_result_ids(r1) & victim_ids)
    # pending tombstones still count toward n_docs (live-docs contract)
    assert meta_m["n_tombstones_pending"] == len(victim_ids)
    _deep_green(spark, out)

    # now the batch is merged: compaction folds for real
    meta_f = compact_deletes(spark, out)
    assert meta_f["n_tombstones_pending"] == 0
    r2 = IndexReader(spark, out)
    assert not (_result_ids(r2) & victim_ids)
    # stats equal a build over (b0 + b1 minus victims): b1's survivors
    # joined, victims gone
    live = (
        r2.docs().filter(F.col("parse_ok"))
        .join(r2.tombstones().select("doc_id"), "doc_id", "left_anti")
        .count()
    )
    assert meta_f["n_docs"] == live
    _deep_green(spark, out)


def test_compact_folds_only_merged_batch_docs(spark, tmp_path):
    """Mixed ledger: one victim in the merged batch, one in the landed
    batch — compaction folds exactly the merged one."""
    out = _build_with_landed_batch(spark, tmp_path, "race2")
    r = IndexReader(spark, out)
    docs = r.docs().filter(F.col("parse_ok"))
    merged_id = docs.filter(~F.col("repo").startswith("late/")).select(
        "doc_id").orderBy("doc_id").first()["doc_id"]
    landed_id = docs.filter(F.col("repo").startswith("late/")).select(
        "doc_id").orderBy("doc_id").first()["doc_id"]
    pre_n = r.meta["n_docs"]

    delete_docs(spark, out, F.col("doc_id").isin([merged_id, landed_id]))
    meta = compact_deletes(spark, out)
    ledger = spark.read.schema(TOMBSTONES_SCHEMA).parquet(
        os.path.join(out, meta["tombstones_dir"])
    )
    flags = {r_["doc_id"]: r_["folded"] for r_ in ledger.collect()}
    assert flags[merged_id] is True
    assert flags[landed_id] is False
    assert meta["n_tombstones_pending"] == 1
    # stats: only the merged victim left the corpus
    assert meta["n_docs"] == pre_n - 1
    _deep_green(spark, out)

    # the landed victim folds after its merge
    merge_incremental(spark, out)
    meta2 = compact_deletes(spark, out)
    assert meta2["n_tombstones_pending"] == 0
    _deep_green(spark, out)


def test_stale_revert_sidecar_skipped_not_poisoned(spark, tmp_path):
    """An update sidecar whose untombstone target got FOLDED between
    staging and merge: the merge must apply (skipping + reporting the
    stale revert), not fail forever on the poisoned sidecar."""
    out = str(tmp_path / "race3")
    base = synth_corpus(spark, n_filler=24, seed=7)
    build_index(spark, base, out, build_id="b0", n_shards=2,
                fragment_postings=64)
    r = IndexReader(spark, out)
    victim = (
        r.docs().filter(F.col("parse_ok"))
        .select("doc_id", "doclen").orderBy("doc_id").first()
    )

    # pending-tombstone the victim, then stage a sidecar reverting it
    # (simulating update_docs staging while the tombstone was pending)
    delete_docs(spark, out, F.col("doc_id") == victim["doc_id"])
    extra = synth_corpus(spark, n_filler=6, seed=9).withColumn(
        "repo", F.concat(F.lit("late/"), F.col("repo"))
    )
    stage1_ingest(spark, extra, out, build_id="b1", n_shards=2)
    side_dir = os.path.join(out, "update_ledger", "batch=b1")
    spark.createDataFrame(
        [(int(victim["doc_id"]), int(victim["doclen"]), True,
          "untombstone")],
        "doc_id long, doclen long, parse_ok boolean, action string",
    ).coalesce(1).write.mode("overwrite").parquet(side_dir)

    # fold the revert target before the merge applies the sidecar
    meta_c = compact_deletes(spark, out)
    assert meta_c["n_tombstones_pending"] == 0

    meta = merge_incremental(spark, out)  # must NOT raise
    assert meta.get("last_merge_stale_reverts") == 1
    assert "b1" in meta["merged_batches"]
    # the folded target stays hidden; the ledger row survived
    r2 = IndexReader(spark, out)
    assert victim["doc_id"] not in _result_ids(r2)
    ledger = spark.read.schema(TOMBSTONES_SCHEMA).parquet(
        os.path.join(out, meta["tombstones_dir"])
    )
    row = ledger.filter(F.col("doc_id") == victim["doc_id"]).collect()
    assert len(row) == 1 and row[0]["folded"] is True
    # replaying the merge is a no-op, not a re-poison
    meta_again = merge_incremental(spark, out)
    assert meta_again["version"] == meta["version"]
    _deep_green(spark, out)


def test_refresh_swaps_snapshot_atomically(spark, tmp_path):
    """refresh_if_stale publishes a NEW immutable bundle; a pinned
    pre-refresh snapshot keeps serving its own generation."""
    from reiz_io_spark.serve import QueryService

    out = str(tmp_path / "race4")
    base = synth_corpus(spark, n_filler=24, seed=7)
    build_index(spark, base, out, build_id="b0", n_shards=2,
                fragment_postings=64)
    svc = QueryService(IndexReader(spark, out))
    pre = svc.query_topk(Q, k=10)
    assert pre
    snap0 = svc._snap
    victim_repo = pre[0]["repo"]
    victim_ids = {
        r_["doc_id"]
        for r_ in IndexReader(spark, out).docs()
        .filter(F.col("repo") == victim_repo).select("doc_id").collect()
    }

    delete_docs(spark, out, F.col("repo") == victim_repo)
    assert svc.refresh_if_stale() is True
    assert svc._snap is not snap0  # new bundle, not in-place mutation
    assert svc.refresh_if_stale() is False  # idempotent

    # post-refresh queries exclude the victims under the NEW stats
    post = svc.query_topk(Q, k=10)
    assert not ({r_["doc_id"] for r_ in post} & victim_ids)
    # the pinned old bundle still answers with its own consistent
    # generation (old postings + old stats): same ranking as before
    groups = snap0.resolve_groups(Q)
    tmeta = snap0.term_meta(sorted({t for g in groups for t in g}))
    postings = snap0._fetch_postings(list(tmeta))
    old_ranked = [
        (d, s) for d, s, _ in snap0._score_driver(groups, tmeta, 10, postings)
    ]
    assert [d for d, _ in old_ranked] == [r_["doc_id"] for r_ in pre]


def test_grep_fallback_without_sidecar_applies_factor_prefilter(
    spark, tmp_path
):
    """No trigram sidecar committed: grep must still push the DNF
    literal-factor Contains conjunction into the content scan (not a
    bare full-corpus rlike), and match the brute scan row-for-row.
    (Private index: test_regexsearch builds a sidecar on the shared
    session index, so 'no sidecar' must not be asserted there.)"""
    from reiz_io_spark.operators.regexsearch import (
        grep_bruteforce,
        grep_index,
    )

    ix = str(tmp_path / "nosidecar")
    build_index(spark, synth_corpus(spark, n_filler=12, seed=3), ix,
                build_id="b0", n_shards=2, fragment_postings=64)
    pattern = r"def [a-z_]+\("
    assert not os.path.exists(os.path.join(ix, "trigrams", "meta.json"))
    got = grep_index(spark, ix, pattern)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Contains" in plan, plan
    want = sorted(
        map(tuple, grep_bruteforce(spark, ix, pattern).collect())
    )
    assert sorted(map(tuple, got.collect())) == want
    assert want  # non-vacuous


# ---- crash-point sweep -------------------------------------------------

CRASH_SUFFIX = "\n\ndef crash_probe(seq):\n    return len(seq)\n"
# the prebuilt index each mutation starts from
BASE = {
    "delete_docs": "built",
    "undelete_docs": "deleted",
    "compact_deletes": "deleted",
    "update_docs": "built",
}
# (module, attribute) a fault replaces; every commit reaches them
# through these module globals
FAULTS = {
    "ledger_staging": (D, "_stage_ledger"),
    "assemble_version": (B, "_assemble_version"),
    "meta_flip": (B, "_write_meta_atomic"),
}
CRASH_CASES = [
    ("delete_docs", "ledger_staging"),
    ("delete_docs", "meta_flip"),
    ("undelete_docs", "ledger_staging"),
    ("undelete_docs", "meta_flip"),
    ("compact_deletes", "assemble_version"),
    ("compact_deletes", "ledger_staging"),
    ("compact_deletes", "meta_flip"),
    ("update_docs", "assemble_version"),
    ("update_docs", "ledger_staging"),
    ("update_docs", "meta_flip"),
]


@pytest.fixture(scope="module")
def crash_bases(spark, tmp_path_factory):
    """Two small prebuilt indexes that every crash case copies:
    ``built`` (no deletes) and ``deleted`` (one repo pending-deleted)."""
    root = tmp_path_factory.mktemp("crash_bases")
    corpus = synth_corpus(spark, n_filler=24, seed=7).cache()
    built = str(root / "built")
    build_index(spark, corpus, built, build_id="b0", n_shards=2,
                fragment_postings=64)
    victim = corpus.select("repo").distinct().orderBy("repo").first()["repo"]
    deleted = str(root / "deleted")
    shutil.copytree(built, deleted)
    delete_docs(spark, deleted, F.col("repo") == victim)
    return {"built": built, "deleted": deleted, "corpus": corpus,
            "victim": victim}


def _mutate(spark, bases, mutation, out):
    victim = F.col("repo") == bases["victim"]
    if mutation == "delete_docs":
        return delete_docs(spark, out, victim)
    if mutation == "undelete_docs":
        return undelete_docs(spark, out, victim)
    if mutation == "compact_deletes":
        return compact_deletes(spark, out)
    batch = bases["corpus"].filter(victim).withColumn(
        "content", F.concat(F.col("content"), F.lit(CRASH_SUFFIX))
    )
    return update_docs(spark, out, batch)


def _copy_base(bases, mutation, dest):
    shutil.copytree(bases[BASE[mutation]], dest)
    return dest


def _top30(spark, out):
    reader = IndexReader(spark, out)
    return [(r["doc_id"], r["score"]) for r in wand_topk(reader, Q, k=30).collect()]


def _state(spark, out):
    """What a commit changes: decoded postings, dictionary, ledger and
    collection stats of the committed snapshot."""
    with open(os.path.join(out, "meta.json")) as fh:
        meta = json.load(fh)
    blocks = spark.read.parquet(table_dir(out, meta, "blocks"))
    postings = sorted(map(tuple, _decode_blocks_to_postings(blocks).collect()))
    dictionary = sorted(
        (r["term"], r["df"], r["cf"])
        for r in spark.read.parquet(table_dir(out, meta, "dictionary")).collect()
    )
    ledger = []
    if meta.get("tombstones_dir"):
        ledger = sorted(
            (r["doc_id"], r["folded"])
            for r in spark.read.schema(TOMBSTONES_SCHEMA)
            .parquet(os.path.join(out, meta["tombstones_dir"])).collect()
        )
    return postings, dictionary, ledger, meta["n_docs"], meta["avgdl"]


@pytest.fixture(scope="module")
def clean_states(spark, crash_bases, tmp_path_factory):
    """The state each mutation reaches on a copy that never crashed
    (computed once per mutation)."""
    cache = {}

    def get(mutation):
        if mutation not in cache:
            out = _copy_base(crash_bases, mutation,
                             str(tmp_path_factory.mktemp("clean") / "ix"))
            _mutate(spark, crash_bases, mutation, out)
            cache[mutation] = _state(spark, out)
        return cache[mutation]

    return get


def _boom(*args, **kwargs):
    raise RuntimeError("simulated crash")


@pytest.mark.parametrize("mutation,point", CRASH_CASES)
def test_crash_point_keeps_snapshot_and_replay_converges(
    spark, crash_bases, clean_states, tmp_path, monkeypatch, mutation, point
):
    out = _copy_base(crash_bases, mutation, str(tmp_path / "ix"))
    meta_path = os.path.join(out, "meta.json")
    with open(meta_path) as fh:
        meta_before = fh.read()
    top_before = _top30(spark, out)

    monkeypatch.setattr(*FAULTS[point], _boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        _mutate(spark, crash_bases, mutation, out)
    monkeypatch.undo()

    with open(meta_path) as fh:
        assert fh.read() == meta_before
    assert _top30(spark, out) == top_before

    _mutate(spark, crash_bases, mutation, out)  # replay without the fault
    assert _state(spark, out) == clean_states(mutation)


@pytest.mark.parametrize("mutation", ["update_docs", "compact_deletes"])
def test_failed_delta_commit_releases_persisted(
    spark, crash_bases, tmp_path, monkeypatch, mutation
):
    """The block encoder fails after the delta stats were materialized
    (update_docs reaches it through merge_incremental): every DataFrame
    the commit persisted is released on the way out."""
    out = _copy_base(crash_bases, mutation, str(tmp_path / "ix"))
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()

    def failing_encoder(block_size):
        raise RuntimeError("simulated encoder failure")

    monkeypatch.setattr(B, "_make_block_encoder", failing_encoder)
    with pytest.raises(RuntimeError, match="simulated encoder failure"):
        _mutate(spark, crash_bases, mutation, out)
    assert jsc.getPersistentRDDs().size() == before
