"""Document deletion for the inverted index: tombstones + compaction.

The reference rebuilds its corpus from scratch when repositories are
dropped (reiz/sampling/fetch.py + a full re-ingest); a 10^12-file index
cannot. This module gives the index Lucene-style *live docs*:

- ``delete_docs`` records tombstones — a tiny committed ledger of
  deleted doc_ids — WITHOUT touching dictionary/blocks. Deleted docs
  vanish from every query result immediately; surviving docs' BM25
  scores are UNCHANGED until compaction (the Lucene live-docs
  contract: df / n_docs / avgdl stay those of the committed segment
  data, so scoring stays consistent with the blocks actually read).
- ``compact_deletes`` folds pending tombstones into the index: decodes
  ONLY the affected terms' blocks, drops the deleted postings,
  rewrites the dictionary's df/cf for those terms, and recomputes
  collection stats (n_docs/avgdl = lineage totals minus the cumulative
  deleted ledger). After compaction the index is content-identical to
  a from-scratch build over the surviving corpus (pytest-gated), so
  post-compaction scores hash-match an oracle computed over
  ``WHERE <deleted predicate is false>``.

Scale shape (100 TB): a delete is one docs-table scan (predicate
pushdown) + a tombstone-parquet rewrite (ledger-sized, not
corpus-sized). Compaction scans the runs table once (broadcast semi
join on the pending ids) to find affected terms, then touches only
those terms' block rows — the exact merge_incremental shape, cost
proportional to the deleted docs' postings, never a full re-encode.
Read-time filtering is a sorted-array membership test inside the
scoring kernel for the block path (pending ids only — folded ids are
already absent from blocks) and a broadcast anti-join for the
runs/content-based paths (those tables are append-only logs that keep
deleted rows forever, so they filter the FULL ledger).

Commit protocol: same as every other mutation here — staged writes,
then ONE atomic meta.json flip (build._write_meta_atomic). A crash
before the flip leaves the previous snapshot fully intact; time
travel (IndexReader at_version) to a pre-delete snapshot still sees
the deleted docs, Iceberg-style. An O_EXCL lock file serializes
delete/compact writers (the same discipline as ann_index appends).

A PENDING delete is reversible: ``undelete_docs`` drops the ledger
rows and the docs reappear (their postings were never touched). A
FOLDED delete is permanent for the doc_id — the postings were
compacted away, and the ledger row must stay (the append-only
runs/docs/content logs still carry the rows, and a full re-encode
must not resurrect them), so re-ingesting the same (repo, path)
yields the same xxhash64 doc_id and stays hidden. Restoring folded
content means ingesting it under a new path. That is the documented
contract.

Tombstone table schema: (doc_id long, doclen long, parse_ok boolean,
folded boolean). ``folded=false`` rows are pending (present in blocks,
filtered at read time); ``folded=true`` rows were compacted out of
blocks but stay in the ledger because the append-only runs/docs/
content tables still carry the deleted rows (and a full
merge_and_encode over runs must not resurrect them).
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schema import DOCS_ON_DISK, RUNS_ON_DISK
from .build import (
    _encode_postings,
    _decode_blocks_to_postings,
    _hot_map,
    _paths,
    _write_meta_atomic,
    table_dir,
)

TOMBSTONES_SCHEMA = (
    "doc_id long, doclen long, parse_ok boolean, folded boolean"
)
# read-path kernels receive the PENDING ids as a driver-side sorted
# array; beyond this many pending deletes, require a compaction (the
# array would bloat every task closure — Lucene has the same
# pragmatics: segments with heavy deletes get merged)
MAX_PENDING_IDS = 4_000_000


def tombstones_dir(index_dir: str, meta: dict) -> str | None:
    name = meta.get("tombstones_dir")
    return os.path.join(index_dir, name) if name else None


def read_tombstones(
    spark: SparkSession, index_dir: str, meta: dict
) -> DataFrame | None:
    """The FULL cumulative ledger of this meta snapshot (folded +
    pending), or None when the snapshot has no deletes."""
    d = tombstones_dir(index_dir, meta)
    if d is None:
        return None
    if not os.path.isdir(d):
        # a snapshot that NAMES a ledger dir must never silently read
        # as delete-free — that would resurrect deleted docs (worse
        # than the dict/blocks expiry error, which only breaks a query)
        raise FileNotFoundError(
            f"tombstone ledger {d} referenced by this snapshot was "
            f"garbage-collected (retention is current + previous "
            f"version) — open the index at its current version"
        )
    return spark.read.schema(TOMBSTONES_SCHEMA).parquet(d)


def deleted_stats(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    folded_only: bool = False,
) -> tuple[int, int]:
    """(deleted n_docs, deleted total_dl) over the ledger, counting
    only parse_ok docs — the same admission rule as the lineage stats
    they are subtracted from. ``folded_only=True`` restricts to rows
    already compacted out of the blocks: collection stats must stay
    consistent with the block data actually read (the Lucene
    contract), so PENDING tombstones keep counting toward
    n_docs/avgdl until a compaction folds them."""
    tomb = read_tombstones(spark, index_dir, meta)
    if tomb is None:
        return 0, 0
    if folded_only:
        tomb = tomb.filter(F.col("folded"))
    row = tomb.filter(F.col("parse_ok")).agg(
        F.count("*").alias("n"), F.sum("doclen").alias("dl")
    ).collect()[0]
    return int(row["n"] or 0), int(row["dl"] or 0)


def _acquire_lock(index_dir: str) -> str:
    lock = os.path.join(index_dir, "deletes.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"another delete/compact is in flight on {index_dir} "
            f"(lock file {lock}; remove it only if the other writer "
            f"is known dead)"
        ) from None
    os.close(fd)
    return lock


def _gc_stale_tombstones(index_dir: str, keep: set[str]) -> None:
    import re

    pat = re.compile(r"^tombstones_v\d+$")
    for name in os.listdir(index_dir):
        if pat.match(name) and name not in keep:
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)


def delete_docs(
    spark: SparkSession, index_dir: str, predicate: Column
) -> dict:
    """Tombstone every indexed doc matching ``predicate`` (a Column
    over the docs table, e.g. ``F.col("repo") == "org/legacy"``).

    One docs-table scan; the new ledger = old ledger ∪ matches (an
    already-tombstoned doc is not double-counted). Commit = staged
    tombstone dir + atomic meta flip bumping the snapshot version.
    dictionary/blocks pointers are untouched — queries exclude the
    docs at read time until ``compact_deletes`` folds them."""
    p = _paths(index_dir)
    lock = _acquire_lock(index_dir)
    try:
        with open(p["meta"]) as fh:
            meta = json.load(fh)
        docs = spark.read.schema(DOCS_ON_DISK).parquet(p["docs"])
        matched = (
            docs.filter(predicate)
            .select("doc_id", "doclen", "parse_ok")
            .dropDuplicates(["doc_id"])
            .withColumn("folded", F.lit(False))
        )
        old = read_tombstones(spark, index_dir, meta)
        if old is not None:
            matched = matched.join(
                F.broadcast(old.select("doc_id")), "doc_id", "left_anti"
            )
            ledger = old.unionByName(matched.select(*old.columns))
        else:
            ledger = matched.select("doc_id", "doclen", "parse_ok", "folded")

        version = int(meta.get("version", 1)) + 1
        new_dir = os.path.join(index_dir, f"tombstones_v{version}")
        staging = os.path.join(index_dir, "tombstones_staging")
        ledger.coalesce(1).write.mode("overwrite").parquet(staging)
        if os.path.isdir(new_dir):
            shutil.rmtree(new_dir)
        os.replace(staging, new_dir)

        staged = spark.read.schema(TOMBSTONES_SCHEMA).parquet(new_dir)
        counts = staged.agg(
            F.count("*").alias("total"),
            F.sum(F.when(~F.col("folded"), 1).otherwise(0)).alias("pending"),
        ).collect()[0]
        prev_tomb = meta.get("tombstones_dir")
        meta.update(
            {
                "version": version,
                "tombstones_dir": os.path.basename(new_dir),
                "n_tombstones": int(counts["total"] or 0),
                "n_tombstones_pending": int(counts["pending"] or 0),
            }
        )
        _write_meta_atomic(p["meta"], meta)  # the commit point
        keep = {os.path.basename(new_dir)}
        if prev_tomb:
            keep.add(prev_tomb)  # snapshot retention: current + previous
        _gc_stale_tombstones(index_dir, keep)
        return meta
    finally:
        os.remove(lock)


def undelete_docs(
    spark: SparkSession, index_dir: str, predicate: Column
) -> dict:
    """Remove matching PENDING tombstones — the docs reappear in every
    query immediately (their postings were never touched). Refuses to
    undelete FOLDED tombstones: compaction physically removed those
    postings, so restoring them means re-ingesting the content (the
    error says so). Same commit protocol as delete_docs."""
    p = _paths(index_dir)
    lock = _acquire_lock(index_dir)
    try:
        with open(p["meta"]) as fh:
            meta = json.load(fh)
        old = read_tombstones(spark, index_dir, meta)
        if old is None:
            return meta
        docs = spark.read.schema(DOCS_ON_DISK).parquet(p["docs"])
        matched = docs.filter(predicate).select("doc_id").dropDuplicates()
        hit = old.join(F.broadcast(matched), "doc_id", "left_semi")
        n_folded = hit.filter(F.col("folded")).count()
        if n_folded:
            raise RuntimeError(
                f"{n_folded} matched tombstones are already folded — "
                f"their postings were compacted away; re-ingest the "
                f"content (stage1_ingest + merge) to restore them"
            )
        ledger = old.join(F.broadcast(matched), "doc_id", "left_anti")

        version = int(meta.get("version", 1)) + 1
        new_dir = os.path.join(index_dir, f"tombstones_v{version}")
        staging = os.path.join(index_dir, "tombstones_staging")
        ledger.coalesce(1).write.mode("overwrite").parquet(staging)
        if os.path.isdir(new_dir):
            shutil.rmtree(new_dir)
        os.replace(staging, new_dir)
        staged = spark.read.schema(TOMBSTONES_SCHEMA).parquet(new_dir)
        counts = staged.agg(
            F.count("*").alias("total"),
            F.sum(F.when(~F.col("folded"), 1).otherwise(0)).alias("pending"),
        ).collect()[0]
        prev_tomb = meta.get("tombstones_dir")
        meta.update(
            {
                "version": version,
                "tombstones_dir": os.path.basename(new_dir),
                "n_tombstones": int(counts["total"] or 0),
                "n_tombstones_pending": int(counts["pending"] or 0),
            }
        )
        _write_meta_atomic(p["meta"], meta)  # the commit point
        keep = {os.path.basename(new_dir)}
        if prev_tomb:
            keep.add(prev_tomb)
        _gc_stale_tombstones(index_dir, keep)
        return meta
    finally:
        os.remove(lock)


def compact_deletes(spark: SparkSession, index_dir: str) -> dict:
    """Fold pending tombstones into dictionary + blocks.

    Shape (the merge_incremental pattern, cost ∝ deleted postings):
    runs ⋉ pending ids (broadcast semi join, one pruned scan) gives the
    deleted postings and the affected terms; ONLY those terms' blocks
    are decoded, anti-joined, re-encoded with the UPDATED df-driven
    fragment map; untouched buckets hardlink into the next version.
    Collection stats recompute as lineage totals minus the cumulative
    ledger — integer sums, so the avgdl float is bit-identical to a
    from-scratch build over the surviving corpus (pytest-gated, along
    with dictionary and decoded-postings equality)."""
    from ..schema import BLOCKS_WITH_BUCKET, DICTIONARY_ON_DISK, LINEAGE
    from .build import N_TERM_BUCKETS, _assemble_version, _gc_stale_versions

    p = _paths(index_dir)
    lock = _acquire_lock(index_dir)
    try:
        with open(p["meta"]) as fh:
            meta = json.load(fh)
        if not int(meta.get("n_tombstones_pending", 0)):
            return meta  # nothing pending — no-op
        t0 = time.perf_counter()
        version = int(meta.get("version", 1))
        cur_dict_dir = table_dir(index_dir, meta, "dictionary")
        cur_blocks_dir = table_dir(index_dir, meta, "blocks")
        block_size = int(meta["block_size"])
        from .build import FRAGMENT_POSTINGS

        fragment_postings = int(
            meta.get("fragment_postings", FRAGMENT_POSTINGS)
        )
        tomb = read_tombstones(spark, index_dir, meta)
        pending_all = tomb.filter(~F.col("folded")).select("doc_id")
        merged_batches = sorted(meta.get("merged_batches", []))

        # A tombstone is FOLDABLE only if its doc's postings are in the
        # blocks — i.e. its batch has been merged. A pending tombstone
        # sitting in a landed-but-unmerged batch must stay PENDING:
        # folding it would subtract df/cf for postings that were never
        # encoded (dictionary desync) and fold collection stats for
        # batches the blocks don't contain (ADVICE r06). Its postings
        # arrive with the next merge_incremental, masked at read, and
        # fold on a later compaction. Each doc_id lives in exactly one
        # batch (stage1's cross-batch anti-join), so one pruned
        # docs-table scan classifies the ledger.
        phases: dict[str, float] = {}
        t_ph = time.perf_counter()
        docs_merged = (
            spark.read.schema(DOCS_ON_DISK).parquet(p["docs"])
            .filter(F.col("batch").isin(merged_batches))
            .select("doc_id")
        )
        pending = pending_all.join(docs_merged, "doc_id", "left_semi")
        if not pending.take(1):
            return meta  # every pending tombstone awaits its merge
        phases["classify"] = time.perf_counter() - t_ph

        # --- deleted postings: ONE pruned runs scan, broadcast semi join
        # (restricted to merged batches — exactly the data the blocks
        # were encoded from). PERSISTED (r8): both del_stats and the
        # touched-fragment map below consume it — without the cache the
        # full runs scan + semi join executed TWICE (the r7 compact
        # regression's biggest single component).
        t_ph = time.perf_counter()
        runs = spark.read.schema(RUNS_ON_DISK).parquet(p["runs"]).filter(
            F.col("batch").isin(merged_batches)
        )
        deleted_runs = runs.join(
            F.broadcast(pending), "doc_id", "left_semi"
        ).persist()
        del_stats = (
            deleted_runs.groupBy("term")
            .agg(F.count("*").alias("df_del"), F.sum("tf").alias("cf_del"))
            .withColumn("term_id", F.xxhash64("term"))
            .withColumn(
                "term_bucket",
                F.pmod(F.xxhash64("term"), F.lit(N_TERM_BUCKETS)).cast("int"),
            )
        ).persist()
        affected_buckets = sorted(
            r["term_bucket"]
            for r in del_stats.select("term_bucket").distinct().collect()
        )
        phases["del_stats"] = time.perf_counter() - t_ph
        if not affected_buckets:
            # foldable docs contributed no postings (all parse-failed):
            # just fold THEIR ledger rows + recompute nothing
            del_stats.unpersist()
            deleted_runs.unpersist()
            return _commit_folded(spark, index_dir, meta, p, version, pending)
        affected_ids = del_stats.select("term_id").distinct()

        # --- dictionary: subtract within affected buckets ---------------
        old_dict = spark.read.schema(DICTIONARY_ON_DISK).parquet(
            cur_dict_dir
        ).filter(F.col("term_bucket").isin(affected_buckets))
        upd_dict = (
            old_dict.join(
                del_stats.select("term", "df_del", "cf_del"), "term", "left"
            )
            .select(
                "term",
                (F.col("df") - F.coalesce("df_del", F.lit(0))).alias("df"),
                (F.col("cf") - F.coalesce("cf_del", F.lit(0))).alias("cf"),
                "term_id",
                "term_bucket",
            )
            .filter(F.col("df") > 0)  # terms now absent everywhere drop out
        )
        t_ph = time.perf_counter()
        dict_staging = os.path.join(index_dir, "dictionary_staging")
        (
            upd_dict.repartition("term_bucket")  # whole buckets per task, AQE-sized
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(dict_staging)
        )
        phases["dict_write"] = time.perf_counter() - t_ph

        # --- blocks: re-encode ONLY the affected FRAGMENTS ----------------
        # same fragment-grained discipline as merge_incremental: a
        # block's fragment is pmod(xxhash64(first_doc_id), n_frag);
        # terms whose fragment count is unchanged by the df shrink
        # decode only the fragments that actually LOST postings — one
        # deleted doc in a corpus-wide hot term folds at fragment
        # cost, not posting-list cost. n_frag stepping down (or the
        # term vanishing) falls back to full re-encode.
        fp = F.lit(float(fragment_postings))
        frag_plan = (
            del_stats.select("term_id", "df_del")
            .join(
                old_dict.select("term_id", F.col("df").alias("df_old")),
                "term_id",
            )
            .select(
                "term_id",
                F.greatest(F.lit(1), F.ceil(F.col("df_old") / fp))
                .cast("int").alias("nf_old"),
                F.greatest(
                    F.lit(1),
                    F.ceil((F.col("df_old") - F.col("df_del")) / fp),
                ).cast("int").alias("nf_new"),
                (F.col("df_old") > F.col("df_del")).alias("survives"),
            )
        )
        partial = frag_plan.filter(
            F.col("survives") & (F.col("nf_old") == F.col("nf_new"))
        ).select("term_id", F.col("nf_new").alias("n_frag"))
        full_ids = frag_plan.filter(
            ~(F.col("survives") & (F.col("nf_old") == F.col("nf_new")))
        ).select("term_id")
        t_ph = time.perf_counter()
        old_blocks = spark.read.schema(BLOCKS_WITH_BUCKET).parquet(
            cur_blocks_dir
        ).filter(F.col("term_bucket").isin(affected_buckets))
        touched = (
            deleted_runs.withColumn("term_id", F.xxhash64("term"))
            .join(partial, "term_id")
            .select(
                "term_id",
                F.pmod(F.xxhash64("doc_id"), F.col("n_frag"))
                .cast("int").alias("salt"),
            )
            .distinct()
        )
        partial_blocks = old_blocks.join(partial, "term_id").withColumn(
            "salt",
            F.pmod(F.xxhash64("first_doc_id"), F.col("n_frag")).cast("int"),
        )
        blk_cols = [f.name for f in BLOCKS_WITH_BUCKET.fields]
        keep_blocks = (
            old_blocks.join(affected_ids, "term_id", "left_anti")
            .unionByName(
                partial_blocks.join(touched, ["term_id", "salt"], "left_anti")
                .select(*blk_cols)
            )
        )
        decode_blocks = (
            old_blocks.join(full_ids, "term_id", "left_semi")
            .unionByName(
                partial_blocks.join(touched, ["term_id", "salt"], "left_semi")
                .select(*blk_cols)
            )
        )
        surviving = _decode_blocks_to_postings(decode_blocks).join(
            F.broadcast(pending), "doc_id", "left_anti"
        )
        staged_dict = spark.read.schema(DICTIONARY_ON_DISK).parquet(
            dict_staging
        )
        hot = _hot_map(
            staged_dict.filter(F.col("term_bucket").isin(affected_buckets)),
            fragment_postings,
        )
        new_blocks = _encode_postings(spark, surviving, hot, block_size)
        blocks_staging = os.path.join(index_dir, "blocks_staging")
        cols = [f.name for f in BLOCKS_WITH_BUCKET.fields]
        from .build import ENCODE_ARROW_BATCH, _arrow_batch

        # kept and re-encoded rows in ONE write behind one bucket
        # exchange — one file per staged bucket dir (see
        # merge_incremental); AQE sizes the exchange from the data
        with _arrow_batch(spark, ENCODE_ARROW_BATCH):
            (
                keep_blocks.select(*cols)
                .unionByName(new_blocks.select(*cols))
                .repartition("term_bucket")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(blocks_staging)
            )
        del_stats.unpersist()
        deleted_runs.unpersist()
        phases["blocks_write"] = time.perf_counter() - t_ph

        # --- stats: merged-lineage totals minus the FOLDED ledger --------
        # lineage restricted to merged batches: the blocks contain
        # exactly those batches' postings; a landed-but-unmerged batch
        # joins the stats at its own merge commit. The subtraction uses
        # the NEW ledger's folded rows (previously-folded + folded by
        # this compaction) — still-pending rows keep counting toward
        # n_docs/avgdl because their postings are still in the blocks
        # (or not yet merged at all): the Lucene live-docs contract.
        lin = spark.read.schema(LINEAGE).parquet(p["lineage"]).filter(
            (F.col("status") == "done")
            & F.col("build_id").isin(merged_batches)
        )
        stats = lin.agg(
            F.sum(F.col("n_files") - F.col("n_parse_failed")).alias("n_docs"),
            F.sum("n_terms").alias("total_dl"),
        ).collect()[0]

        # --- commit ------------------------------------------------------
        t_ph = time.perf_counter()
        new_version = version + 1
        new_dict_dir = os.path.join(index_dir, f"dictionary_v{new_version}")
        new_blocks_dir = os.path.join(index_dir, f"blocks_v{new_version}")
        _assemble_version(
            cur_blocks_dir, blocks_staging, new_blocks_dir, affected_buckets
        )
        _assemble_version(
            cur_dict_dir, dict_staging, new_dict_dir, affected_buckets
        )
        folded_dir = _write_folded_ledger(
            spark, index_dir, meta, new_version, fold_ids=pending
        )
        staged_ledger = spark.read.schema(TOMBSTONES_SCHEMA).parquet(folded_dir)
        lrow = staged_ledger.agg(
            F.sum(
                F.when(F.col("folded") & F.col("parse_ok"), 1).otherwise(0)
            ).alias("nf"),
            F.sum(
                F.when(F.col("folded") & F.col("parse_ok"), F.col("doclen"))
                .otherwise(F.lit(0))
            ).alias("dlf"),
            F.sum(F.when(~F.col("folded"), 1).otherwise(0)).alias("pending"),
        ).collect()[0]
        n_docs = int(stats["n_docs"] or 0) - int(lrow["nf"] or 0)
        total_dl = int(stats["total_dl"] or 0) - int(lrow["dlf"] or 0)
        prev_tomb = meta.get("tombstones_dir")
        meta.update(
            {
                "version": new_version,
                "dictionary_dir": os.path.basename(new_dict_dir),
                "blocks_dir": os.path.basename(new_blocks_dir),
                "tombstones_dir": os.path.basename(folded_dir),
                "n_tombstones_pending": int(lrow["pending"] or 0),
                "n_docs": n_docs,
                "total_dl": total_dl,
                "avgdl": total_dl / n_docs if n_docs else 0.0,
                "last_compact_deletes_ms": int(
                    (time.perf_counter() - t0) * 1000
                ),
                "last_compact_affected_buckets": affected_buckets,
                # per-phase attribution (VERDICT r07 #1): classify =
                # ledger-vs-merged-batches, del_stats = pruned runs
                # semi-join + term agg, dict/blocks_write = staging
                # writes, ledger_commit = fold + assemble + flip
                "last_compact_phases_ms": {
                    k: int(v * 1000) for k, v in {
                        **phases,
                        "ledger_commit": time.perf_counter() - t_ph,
                    }.items()
                },
            }
        )
        _write_meta_atomic(p["meta"], meta)  # the commit point
        _gc_stale_versions_by_dir(index_dir, meta, cur_dict_dir, cur_blocks_dir)
        keep = {os.path.basename(folded_dir)}
        if prev_tomb:
            keep.add(prev_tomb)
        _gc_stale_tombstones(index_dir, keep)
        return meta
    finally:
        os.remove(lock)


def _write_folded_ledger(
    spark: SparkSession, index_dir: str, meta: dict, version: int,
    fold_ids: DataFrame | None = None,
) -> str:
    """Rewrite the ledger with rows folded=true (staged, not yet
    committed — the caller's meta flip publishes it). ``fold_ids=None``
    folds EVERY row (the full-re-encode path, merge_and_encode, which
    anti-joined the whole ledger); a DataFrame of doc_ids folds only
    those rows — compact_deletes folds exactly the pending tombstones
    whose postings it removed from the blocks, leaving tombstones of
    landed-but-unmerged batches pending."""
    tomb = read_tombstones(spark, index_dir, meta)
    if fold_ids is None:
        folded = tomb.withColumn("folded", F.lit(True))
    else:
        folded = (
            tomb.join(
                F.broadcast(
                    fold_ids.select("doc_id").withColumn("_f", F.lit(True))
                ),
                "doc_id", "left",
            )
            .select(
                "doc_id", "doclen", "parse_ok",
                (F.col("folded") | F.coalesce("_f", F.lit(False))).alias(
                    "folded"
                ),
            )
        )
    new_dir = os.path.join(index_dir, f"tombstones_v{version}")
    staging = os.path.join(index_dir, "tombstones_staging")
    folded.coalesce(1).write.mode("overwrite").parquet(staging)
    if os.path.isdir(new_dir):
        shutil.rmtree(new_dir)
    os.replace(staging, new_dir)
    return new_dir


def _commit_folded(
    spark: SparkSession, index_dir: str, meta: dict, p: dict, version: int,
    fold_ids: DataFrame | None = None,
) -> dict:
    """Foldable pending docs had zero postings (parse-failed): no block
    work — fold exactly their ledger rows and leave any unmerged-batch
    tombstones pending."""
    new_version = version + 1
    folded_dir = _write_folded_ledger(
        spark, index_dir, meta, new_version, fold_ids=fold_ids
    )
    staged = spark.read.schema(TOMBSTONES_SCHEMA).parquet(folded_dir)
    n_pending = staged.filter(~F.col("folded")).count()
    prev_tomb = meta.get("tombstones_dir")
    meta.update(
        {
            "version": new_version,
            "tombstones_dir": os.path.basename(folded_dir),
            "n_tombstones_pending": int(n_pending),
        }
    )
    _write_meta_atomic(p["meta"], meta)
    keep = {os.path.basename(folded_dir)}
    if prev_tomb:
        keep.add(prev_tomb)
    _gc_stale_tombstones(index_dir, keep)
    return meta


def apply_update_sidecars(
    spark: SparkSession,
    index_dir: str,
    meta: dict,
    batch_ids: list[str],
    new_version: int,
) -> bool:
    """Fold the update tier's per-batch sidecars (operators/updates.py:
    ``update_ledger/batch=<id>/`` rows of (doc_id, doclen, parse_ok,
    action)) into the tombstone ledger: ``tombstone`` rows join the
    ledger as pending, ``untombstone`` rows (content reverts) drop
    their PENDING ledger rows — a folded target refuses, its postings
    are physically gone. Stages ``tombstones_v{new_version}`` and
    mutates ``meta``'s tombstone fields IN PLACE; the caller's single
    atomic meta flip publishes the ledger together with whatever else
    it commits (merge_incremental: the new blocks/dictionary). Returns
    False when no sidecar row applies.

    The caller MUST hold the deletes lock: classification happened at
    update_docs time, and a delete/compact interleaving between then
    and this application is what the lock excludes."""
    from .updates import UPDATE_LEDGER_SCHEMA, update_ledger_dir

    root = update_ledger_dir(index_dir)
    dirs = [
        os.path.join(root, f"batch={b}")
        for b in batch_ids
        if os.path.isdir(os.path.join(root, f"batch={b}"))
    ]
    if not dirs:
        return False
    side = spark.read.schema(UPDATE_LEDGER_SCHEMA).parquet(*dirs)
    adds = (
        side.filter(F.col("action") == "tombstone")
        .select("doc_id", "doclen", "parse_ok")
        .dropDuplicates(["doc_id"])
        .withColumn("folded", F.lit(False))
    )
    removes = (
        side.filter(F.col("action") == "untombstone")
        .select("doc_id")
        .dropDuplicates()
    )
    old = read_tombstones(spark, index_dir, meta)
    if old is not None:
        stale = old.join(
            F.broadcast(removes), "doc_id", "left_semi"
        ).filter(F.col("folded")).select("doc_id")
        stale_ids = [int(r["doc_id"]) for r in stale.collect()]
        n_stale = len(stale_ids)
        if n_stale:
            # a compaction folded these revert targets between
            # update_docs staging its sidecar and this merge applying
            # it: the postings are physically gone, so the revert
            # cannot be honored. SKIP the stale untombstone rows —
            # raising here would leave the batch in new_batches and
            # poison every subsequent merge on the same sidecar
            # (ADVICE r06). The reverted content stays hidden (the
            # folded contract); restoring it means re-ingesting under
            # a new path. The skipped doc_ids are PERSISTED to an
            # append-only log (not just the transient counter, which a
            # later clean merge resets — ADVICE r07) so operators can
            # identify which reverts need re-ingestion.
            removes = removes.join(stale, "doc_id", "left_anti")
            log_path = os.path.join(index_dir, "stale_reverts.jsonl")
            with open(log_path, "a") as fh:
                fh.write(json.dumps({
                    "batches": sorted(batch_ids),
                    "new_version": int(new_version),
                    "skipped_revert_doc_ids": sorted(stale_ids),
                }) + "\n")
        meta["last_merge_stale_reverts"] = int(n_stale)
        ledger = (
            old.join(F.broadcast(removes), "doc_id", "left_anti")
            .unionByName(
                adds.join(
                    F.broadcast(old.select("doc_id")), "doc_id", "left_anti"
                )
            )
        )
    else:
        ledger = adds
    new_dir = os.path.join(index_dir, f"tombstones_v{new_version}")
    staging = os.path.join(index_dir, "tombstones_staging")
    ledger.coalesce(1).write.mode("overwrite").parquet(staging)
    if os.path.isdir(new_dir):
        shutil.rmtree(new_dir)
    os.replace(staging, new_dir)
    staged = spark.read.schema(TOMBSTONES_SCHEMA).parquet(new_dir)
    counts = staged.agg(
        F.count("*").alias("total"),
        F.sum(F.when(~F.col("folded"), 1).otherwise(0)).alias("pending"),
    ).collect()[0]
    meta["tombstones_dir"] = os.path.basename(new_dir)
    meta["n_tombstones"] = int(counts["total"] or 0)
    meta["n_tombstones_pending"] = int(counts["pending"] or 0)
    return True


def _gc_stale_versions_by_dir(
    index_dir: str, meta: dict, prev_dict_dir: str, prev_blocks_dir: str
) -> None:
    """Retention by DIR NAME, not version arithmetic: delete commits
    bump the snapshot version without minting table dirs, so
    ``keep=(version, version-1)`` can point at suffixes that never
    existed while the real previous dirs age out. Keep exactly the
    dirs the current meta references plus the pair it replaced."""
    import re

    keep = {
        os.path.basename(table_dir(index_dir, meta, "dictionary")),
        os.path.basename(table_dir(index_dir, meta, "blocks")),
        os.path.basename(prev_dict_dir),
        os.path.basename(prev_blocks_dir),
    }
    pat = re.compile(r"^(dictionary|blocks)_v\d+$")
    for name in os.listdir(index_dir):
        if pat.match(name) and name not in keep:
            shutil.rmtree(os.path.join(index_dir, name), ignore_errors=True)
