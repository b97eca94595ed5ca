"""Document UPDATE for the inverted index: delete-then-add, one commit.

The reference has no in-place update either — a changed file means a
full corpus re-fetch + re-ingest (reiz/sampling/fetch.py). Lucene's
``updateDocument`` (delete old by term, add new, both visible at the
same commit point) is the production semantic this module provides on
top of the existing tombstone (operators/deletes.py) and incremental
merge (operators/build.py::merge_incremental) machinery:

- ``update_docs(spark, index_dir, corpus)`` takes a corpus batch of
  (repo, path, commit, content, lang) rows. For each (repo, path):
  * content identical to the live indexed version -> skipped
    (idempotent re-delivery, the ingest-cache contract).
  * content changed -> the live doc_id is TOMBSTONED and the new
    version is ingested under a fresh deterministic identity
    ``doc_id = xxhash64(repo, path, content_sha256)`` — the version
    qualifier keeps old and new postings distinguishable inside the
    same posting lists (same reason Lucene assigns a new internal
    docid on update).
  * content equal to a PENDING-tombstoned older version (a revert) ->
    the old ledger row is dropped instead of re-ingesting: the
    postings were never touched, so the doc reappears bit-identically
    at zero re-encode cost.
  * (repo, path) not indexed at all -> a plain add.
  * (repo, path) whose every version is deleted -> REFUSED (the
    delete contract: deleted paths stay hidden until an explicit
    ``undelete_docs`` or a fresh path — an update must not resurrect
    them as a side effect).

Atomicity: the tombstone/untombstone rows are staged as a per-batch
sidecar (``update_ledger/batch=<id>/``) next to the staged docs/content
partitions; ``merge_incremental`` — the ADDED-delta caller of
build._merge_term_delta, the one term-delta merge compact_deletes also
runs — folds the sidecar into the tombstone ledger inside the SAME
meta.json flip that publishes the new blocks/dictionary. Queries
therefore never observe the intermediate states (both versions
visible, or neither) — the Lucene updateDocument contract. A crash anywhere before the flip leaves the previous
snapshot intact; replaying ``update_docs`` with the same batch is
idempotent (same deterministic batch id -> lineage resume + dynamic
partition overwrite + doc_id anti-join, sidecar overwrite).

Scale shape (100 TB): cost ∝ changed files only — one docs-table scan
to resolve live versions (predicate pushdown on nothing; it is a
doc_id/repo/path/sha projection), the normal incremental ingest of the
changed files, and a merge touching only the affected term buckets.
The tombstoned old postings are folded out later by
``compact_deletes`` (the same delta merge with a REMOVED delta, cost ∝
deleted postings). Nothing rewrites untouched data.

After ``update_docs`` + ``compact_deletes`` the index ranks and scores
exactly like a from-scratch build over the updated corpus
(pytest-gated on (repo, path, score) — doc_ids of updated docs are
version-qualified by design).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import DOCS_ON_DISK
from .build import (
    _paths,
    _writer_lock,
    merge_incremental,
    prepare_docs,
    stage1_ingest,
)
from .deletes import _commit_ledger, apply_update_sidecars, read_tombstones

UPDATE_LEDGER_SCHEMA = (
    "doc_id long, doclen long, parse_ok boolean, action string"
)


def update_ledger_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "update_ledger")


def _live_docs(
    spark: SparkSession, index_dir: str, meta: dict
) -> tuple[DataFrame, DataFrame | None]:
    """(live docs projection, full ledger or None). docs is the
    append-only log — a (repo, path) may have several version rows;
    live = rows whose doc_id is not tombstoned."""
    p = _paths(index_dir)
    docs = spark.read.schema(DOCS_ON_DISK).parquet(p["docs"]).select(
        "doc_id", "repo", "path", "content_sha256", "doclen", "parse_ok"
    )
    ledger = read_tombstones(spark, index_dir, meta)
    if ledger is not None:
        live = docs.join(
            F.broadcast(ledger.select("doc_id")), "doc_id", "left_anti"
        )
    else:
        live = docs
    return live, ledger


def update_docs(
    spark: SparkSession, index_dir: str, corpus: DataFrame
) -> dict:
    """Apply a corpus batch as document updates (delete-then-add with
    one commit point). Returns the committed meta; a batch that changes
    nothing returns the current meta untouched."""
    p = _paths(index_dir)
    with open(p["meta"]) as fh:
        meta = json.load(fh)
    n_shards = int(meta.get("n_shards", 8))

    # The decision phase runs under the writer lock: the live/pending
    # classification must not race a delete/compact commit. The lock is
    # released before merge_incremental, which re-acquires it for the
    # ledger application (single-writer discipline, no re-entrance).
    with _writer_lock(index_dir):
        new = prepare_docs(corpus, n_shards).select(
            "repo", "path", "commit", "content", "lang",
            F.col("content_sha256").alias("new_sha"),
        )
        # one content version per (repo, path) per batch — two versions
        # at once would BOTH classify as changed and both go live,
        # breaking the one-live-version invariant. Callers with
        # multi-version batches pick a winner first (the streaming
        # upsert front-end orders by its order column).
        dup = (
            new.groupBy("repo", "path").count().filter(F.col("count") > 1)
        )
        n_dup = dup.count()
        if n_dup:
            raise ValueError(
                f"update_docs: {n_dup} (repo, path) pairs appear more "
                f"than once in this batch — apply one content version "
                f"per path per commit (dedupe upstream, e.g. keep the "
                f"latest by your ordering column)"
            )
        live, ledger = _live_docs(spark, index_dir, meta)

        j = new.join(
            live.select(
                "repo", "path",
                F.col("doc_id").alias("live_doc_id"),
                F.col("content_sha256").alias("live_sha"),
            ),
            ["repo", "path"],
            "left",
        )
        # idempotent re-delivery: live version already has this content
        j = j.filter(
            F.col("live_sha").isNull() | (F.col("live_sha") != F.col("new_sha"))
        )
        # persisted through the WHOLE update (classification is consumed
        # by the refusal checks, the digest, the sidecar write, AND the
        # staged ingest below — without the cache each action re-scans
        # the docs table, which is the index-sized cost at 10^12 docs)
        changed = j.persist()
        try:
            n_changed = changed.count()
            if not n_changed:
                changed.unpersist()
                return meta

            # a (repo, path) with NO live version but tombstoned ones is
            # deleted — an update must not resurrect it (use undelete or
            # a fresh path; the error says so)
            if ledger is not None:
                docs_all = spark.read.schema(DOCS_ON_DISK).parquet(
                    p["docs"]
                ).select("doc_id", "repo", "path")
                dead_paths = (
                    changed.filter(F.col("live_doc_id").isNull())
                    .select("repo", "path")
                    .join(docs_all, ["repo", "path"], "left_semi")
                )
                n_dead = dead_paths.count()
                if n_dead:
                    raise RuntimeError(
                        f"update_docs: {n_dead} (repo, path) pairs are "
                        f"deleted (every indexed version tombstoned) — "
                        f"updating them would resurrect a deleted path; "
                        f"undelete_docs first, or ingest under a new path"
                    )

            # revert detection: the new content equals a PENDING-
            # tombstoned older version of the same path -> untombstone
            # that doc_id (postings still in blocks; zero re-encode).
            # A FOLDED match is refused: its postings are physically
            # gone, and silently re-ingesting under the same doc_id
            # would collide with the folded ledger row.
            tomb_versions = None
            if ledger is not None:
                docs_all = spark.read.schema(DOCS_ON_DISK).parquet(
                    p["docs"]
                ).select("doc_id", "repo", "path", "content_sha256")
                tomb_versions = docs_all.join(
                    F.broadcast(ledger), "doc_id"
                ).select(
                    "repo", "path",
                    F.col("content_sha256").alias("new_sha"),
                    F.col("doc_id").alias("revert_doc_id"),
                    F.col("folded").alias("revert_folded"),
                ).dropDuplicates(["repo", "path", "new_sha"])
                changed2 = changed.join(
                    tomb_versions, ["repo", "path", "new_sha"], "left"
                )
                n_folded = changed2.filter(
                    F.col("revert_folded") == F.lit(True)
                ).count()
                if n_folded:
                    raise RuntimeError(
                        f"update_docs: {n_folded} updates match a FOLDED "
                        f"deleted version byte-for-byte — those postings "
                        f"were compacted away and the doc_id is "
                        f"permanently retired; change the content (any "
                        f"byte) or ingest under a new path"
                    )
            else:
                changed2 = changed.withColumn(
                    "revert_doc_id", F.lit(None).cast("long")
                )

            reverts = changed2.filter(F.col("revert_doc_id").isNotNull())
            adds = changed2.filter(F.col("revert_doc_id").isNull())

            # deterministic batch id: a pure function of the applied
            # change set, so a crashed update replays idempotently
            digest_row = changed2.agg(
                F.format_string(
                    "%016x",
                    F.expr(
                        "bit_xor(xxhash64(repo, path, new_sha))"
                    ),
                ).alias("d")
            ).collect()[0]
            batch_id = f"update-{digest_row['d']}"

            # sidecar: tombstone every replaced live version, drop the
            # ledger rows of reverted versions — folded into the merge's
            # meta flip (merge_incremental), never committed separately
            tombstone_rows = (
                changed2.filter(F.col("live_doc_id").isNotNull())
                .join(
                    live.select(
                        F.col("doc_id").alias("live_doc_id"),
                        "doclen", "parse_ok",
                    ),
                    "live_doc_id",
                )
                .select(
                    F.col("live_doc_id").alias("doc_id"),
                    "doclen", "parse_ok",
                    F.lit("tombstone").alias("action"),
                )
            )
            untombstone_rows = reverts.select(
                F.col("revert_doc_id").alias("doc_id"),
                F.lit(0).cast("long").alias("doclen"),
                F.lit(True).alias("parse_ok"),
                F.lit("untombstone").alias("action"),
            )
            sidecar = tombstone_rows.unionByName(untombstone_rows)
            bdir = os.path.join(
                update_ledger_dir(index_dir), f"batch={batch_id}"
            )
            staging = bdir + ".staging"
            sidecar.coalesce(1).write.mode("overwrite").parquet(staging)
            if os.path.isdir(bdir):
                shutil.rmtree(bdir)
            os.replace(staging, bdir)

            # new versions to ingest, identity-qualified by content
            ingest = adds.select(
                "repo", "path", "commit", "content", "lang",
                F.xxhash64("repo", "path", "new_sha").alias("doc_id"),
            )
            has_adds = bool(ingest.take(1))
        except BaseException:
            changed.unpersist()
            raise

    try:
        if has_adds:
            stage1_ingest(
                spark, ingest, index_dir, build_id=batch_id,
                n_shards=n_shards,
            )
    finally:
        changed.unpersist()

    if not has_adds:
        # revert-only batch: nothing to stage, but the sidecar must
        # still commit — stage an EMPTY lineage-visible batch by
        # letting merge consume orphan sidecars? No: merge applies
        # sidecars of batches it folds. Commit the ledger change
        # directly through the same single-writer path instead.
        return _commit_revert_only(spark, index_dir, batch_id)
    return merge_incremental(spark, index_dir)


def _commit_revert_only(
    spark: SparkSession, index_dir: str, batch_id: str
) -> dict:
    """A batch consisting purely of reverts to pending-tombstoned
    versions: no new postings, so there is nothing for the merge to
    fold — the commit is a ledger rewrite (undelete semantics, the
    ledger-only commit deletes.undelete_docs uses)."""
    with _writer_lock(index_dir):
        with open(_paths(index_dir)["meta"]) as fh:
            meta = json.load(fh)
        ledger = apply_update_sidecars(
            spark, index_dir, meta, [batch_id], int(meta.get("version", 1)) + 1
        )
        if ledger is None:
            return meta
        _commit_ledger(spark, index_dir, meta, ledger)
        _consume_sidecars(index_dir, [batch_id])
        return meta


def _consume_sidecars(index_dir: str, batch_ids: list[str]) -> None:
    """Remove applied sidecar dirs (post-commit cleanup; merely
    cosmetic — an applied batch is in merged_batches, so the merge
    never re-reads its sidecar)."""
    for b in batch_ids:
        shutil.rmtree(
            os.path.join(update_ledger_dir(index_dir), f"batch={b}"),
            ignore_errors=True,
        )
