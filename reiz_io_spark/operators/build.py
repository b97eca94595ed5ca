"""Inverted-index build: corpus -> docs / dictionary / compressed blocks
/ lineage, checkpoint-resumable.

This one columnar pipeline replaces the reference's per-AST-node INSERT
ingest (reiz/serialization/insert.py:18-51, serializer.py:88-97 — one
network round trip per node, ~17.5M objects for 53k files) with:

    corpus ──filter(lang)──▶ tokenize UDF (map-side tf) ──▶ docs
    runs = explode(docs.terms)  [a view over docs, never written]
    runs ──term_id = xxhash64(term); broadcast-join hot-term fan-out map
         ──salt = pmod(xxhash64(doc_id), S(term))
         ──repartition(term_id, salt)  [the north rule's salted re-shuffle]
         ──sortWithinPartitions(term_id, salt, doc_id)  [external merge:
            Spark's sort-based shuffle spills + merges runs on disk]
         ──mapInArrow(encode)──▶ delta+varint blocks w/ block-max bounds

Scale design notes (100 TB / 10^12 files):
- tf aggregation happens INSIDE the tokenizer UDF (one row per doc), so
  the only full-data shuffle is the block-encode repartition.
- the posting runs are read_runs(), an explode of the docs table's
  per-doc tf map: the same postings are never stored twice.
- S(term) = ceil(df / FRAGMENT_POSTINGS): hot terms (id:self, node:Name —
  Zipfian corpora) fan out across S fragments, each encoded
  independently; no single task ever owns a whole hot posting list.
  AQE skew handling covers joins, not groupBy fan-in — hence explicit
  salting (SURVEY.md §4.3).
- blocks/dictionary written partitioned by term_bucket =
  pmod(xxhash64(term), N_TERM_BUCKETS): query-time partition pruning
  reads only the buckets of the query's terms.
- resume: per-shard lineage rows (shard = pmod(xxhash64(repo), n_shards))
  written only after that shard's docs land; a re-run anti-joins
  pending shards against lineage — the analog of the reference's
  DB-backed ingest cache (reiz/serialization/cache.py:8-25,
  context.py:105-109).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
from collections.abc import Iterator
from contextlib import contextmanager

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

from .. import BLOCK_SIZE, BM25_B, BM25_K1
from ..functions import codec
from ..functions.tokenizer import with_tokens
from ..schema import (
    BLOCKS_ON_DISK,
    BLOCKS_WITH_BUCKET,
    CONTENT_ON_DISK,
    DICTIONARY_ON_DISK,
    DOCS_ON_DISK,
    LINEAGE,
)

FRAGMENT_POSTINGS = 262_144  # target postings per salted fragment
N_TERM_BUCKETS = 32
# Arrow batch rows for the NARROW block-encode exchange (5 fixed-width
# columns): bigger batches amortize per-batch pandas/Arrow overhead in
# the encoder (~10% of the blocks stage at the 200k bench). The global
# default (10k, session.py) stays small because wide-text UDFs (the
# tokenizer) need bounded batch memory; this one is flipped around the
# encode actions only (_arrow_batch).
ENCODE_ARROW_BATCH = 65_536


@contextmanager
def _arrow_batch(spark: SparkSession, n: int):
    """Temporarily set the Arrow max batch rows around one action,
    restoring the session default afterwards."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _paths(out_dir: str) -> dict[str, str]:
    """Static table paths. dictionary/blocks are DEFAULTS for a
    fresh index — committed indexes carry versioned dir names in
    meta.json (dictionary_dir / blocks_dir); resolve via table_dir()."""
    return {
        "docs": os.path.join(out_dir, "docs"),
        "content": os.path.join(out_dir, "content"),
        "dictionary": os.path.join(out_dir, "dictionary_v1"),
        "blocks": os.path.join(out_dir, "blocks_v1"),
        "lineage": os.path.join(out_dir, "lineage"),
        "meta": os.path.join(out_dir, "meta.json"),
    }


def table_dir(out_dir: str, meta: dict, table: str) -> str:
    """Resolve the CURRENT physical dir of a versioned table
    ('dictionary' | 'blocks') from the committed meta — the version
    pointer is the unit of atomicity (meta.json is flipped with
    os.replace, so a reader sees either the old consistent
    (dictionary, blocks) pair or the new one, never a mix)."""
    default = {"dictionary": "dictionary_v1", "blocks": "blocks_v1"}[table]
    return os.path.join(out_dir, meta.get(f"{table}_dir", default))


def _write_meta_atomic(meta_path: str, meta: dict) -> None:
    """Commit point for every build/merge: write-then-os.replace is
    atomic on POSIX, the stand-in for an Iceberg snapshot commit (the
    reference gets transactional commits from EdgeDB,
    reiz/serialization/insert.py:30 `with conn.transaction()`).

    Each commit also drops an immutable `meta_v{N}.json` history file
    (the Iceberg metadata-log analog): snapshots within the GC
    retention window stay readable via IndexReader(..., at_version=N)
    — time travel; history files are tiny and are kept forever as the
    commit log even after their data dirs are expired.

    Ordering: the history file is written strictly AFTER the meta.json
    os.replace succeeds — the commit log must only ever record committed
    snapshots. (Writing it first left a phantom snapshot on a crash
    between the two writes: snapshots() would list a version that was
    never committed and whose number the replayed merge would reuse.)
    A crash between meta.json and the history write loses only the log
    row, which the next commit's writer cannot confuse with a live
    snapshot — meta.json itself is always the source of truth."""
    tmp = meta_path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=2)
    os.replace(tmp, meta_path)
    version = meta.get("version")
    if version is not None:
        hist = os.path.join(
            os.path.dirname(meta_path), f"meta_v{int(version)}.json"
        )
        with open(hist + ".tmp", "w") as fh:
            json.dump(meta, fh, indent=2)
        os.replace(hist + ".tmp", hist)


_VERSIONED_DIR = re.compile(r"^(dictionary|blocks|tombstones)_v\d+$")


def _publish(out_dir: str, meta: dict, prev_meta: dict) -> dict:
    """The publish step of every commit: flip meta.json (the commit
    point, through the module global so one patch of
    _write_meta_atomic reaches every mutation), then apply the one
    retention rule — delete each dictionary_v* / blocks_v* /
    tombstones_v* dir that neither the new snapshot nor the one it
    replaced references. The replaced snapshot stays readable for one
    commit (a reader that resolved its paths just before the flip keeps
    working, as an Iceberg expire-snapshots policy would); older ones
    expire, and so does any dir a crashed commit staged but never
    published. Retention goes by DIR NAME, never version arithmetic:
    ledger-only commits bump the version without minting table dirs."""
    _write_meta_atomic(os.path.join(out_dir, "meta.json"), meta)
    keep = {m.get("tombstones_dir") for m in (meta, prev_meta)} | {
        os.path.basename(table_dir(out_dir, m, t))
        for m in (meta, prev_meta)
        for t in ("dictionary", "blocks")
    }
    for name in os.listdir(out_dir):
        if _VERSIONED_DIR.match(name) and name not in keep:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
    return meta


@contextmanager
def _writer_lock(index_dir: str):
    """The O_EXCL writer lock every index mutation holds for its whole
    run (the same discipline as ann_index appends): two writers would
    share the staging dirs, and the later meta flip would drop the
    earlier commit."""
    lock = os.path.join(index_dir, "deletes.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        raise RuntimeError(
            f"another index writer is in flight on {index_dir} "
            f"(lock file {lock}; remove it only if the other writer "
            f"is known dead)"
        ) from None
    os.close(fd)
    try:
        yield
    finally:
        os.remove(lock)


def prepare_docs(corpus: DataFrame, n_shards: int) -> DataFrame:
    """corpus -> sanitized + identified rows (NOT yet tokenized).

    Sanitize filter ≈ reference sanitize_dataset.py:15-25; rows that fail
    ast.parse later keep parse_ok=False (Insertion.SKIPPED,
    statistics.py:7-12). doc_id/shard are content-independent hashes —
    deterministic under task retries (no row_number over unordered data).
    Shard-aligned here: raw content shuffles ONCE, every downstream task
    owns whole shards, and the partitioned writes emit n_shards files
    instead of n_input_partitions x n_shards (the driver-side commit of
    thousands of tiny files was a measured serial bottleneck).
    Tokenization happens AFTER the content table lands (stage1_ingest
    reads it back), so the shuffle never carries the terms column and
    the tokenizer still runs exactly once per document.
    """
    df = corpus.filter(F.col("lang") == "python")
    if "doc_id" not in df.columns:
        # default identity; the update tier (operators/updates.py)
        # pre-assigns version-qualified ids and they pass through
        df = df.withColumn("doc_id", F.xxhash64("repo", "path"))
    df = df.withColumn("shard", F.pmod(F.xxhash64("repo"), F.lit(n_shards)).cast("int"))
    df = df.withColumn("content_sha256", F.sha2(F.col("content"), 256))
    # r8 (guide §2.5/§6): repartition by (shard, subshard) instead of
    # bare shard. Hashing n_shards DISTINCT key values into n_shards
    # partitions leaves ~1/e of tasks empty and loads others with 2-3
    # whole shards — every downstream stage (content write, tokenizer,
    # docs writes) inherited that straggler profile, and each
    # (batch, shard) dir got ONE parquet file, so the tokenize scan
    # could not split finer than a shard. The deterministic subshard
    # (pure function of doc_id) multiplies the key space ~3x the core
    # count: balanced tasks, ~k files per shard dir (bounded by the
    # task count, nowhere near the n_input x n_shards file blowup this
    # function guards against).
    par = df.sparkSession.sparkContext.defaultParallelism
    k = max(1, -(-3 * par // n_shards))
    return df.repartition(
        n_shards * k, "shard", F.pmod(F.xxhash64("doc_id"), F.lit(k))
    )


def read_runs(
    spark: SparkSession, out_dir: str, batches: list[str] | None = None
) -> DataFrame:
    """The posting runs (batch, shard, term, doc_id, tf, dl) of an
    index: a view over the docs table, whose per-doc tf map (the
    forward index) already holds every posting. Parse-failed docs carry
    no postings; dl is the doc's length. ``batches`` prunes on the
    batch partition column, so a merge of new batches never opens an
    old batch's files. Never materialized: a stored copy duplicated
    docs.terms on disk and cost the build one more write pass."""
    docs = spark.read.schema(DOCS_ON_DISK).parquet(_paths(out_dir)["docs"])
    if batches is not None:
        docs = docs.filter(F.col("batch").isin(batches))
    return docs.filter(F.col("parse_ok")).select(
        "batch",
        "shard",
        F.explode("terms").alias("term", "tf"),
        "doc_id",
        F.col("doclen").alias("dl"),
    ).select("batch", "shard", "term", "doc_id", "tf", "dl")


def _other_batch_dirs(docs_path: str, build_id: str) -> list[str]:
    """Hive partition dirs of every batch EXCEPT build_id (for the
    cross-batch doc_id anti-join): explicit subdir paths so the read's
    file set is provably disjoint from this job's batch=build_id write
    under the same root."""
    try:
        names = os.listdir(docs_path)
    except OSError:
        return []
    return sorted(
        os.path.join(docs_path, d)
        for d in names
        if d.startswith("batch=") and d != f"batch={build_id}"
    )


def completed_shards(spark: SparkSession, lineage_path: str, build_id: str) -> list[int]:
    """Shards of ``build_id`` the lineage table marks done (at most
    n_shards values). A fresh index has no lineage dir yet: no Spark
    job is launched then."""
    if not os.path.isdir(lineage_path):
        return []
    lin = spark.read.schema(LINEAGE).parquet(lineage_path)
    return sorted(
        r["shard"]
        for r in lin.filter(
            (F.col("build_id") == build_id) & (F.col("status") == "done")
        )
        .select("shard")
        .distinct()
        .collect()
    )


def stage1_ingest(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    build_id: str = "build-0",
    n_shards: int = 8,
) -> dict:
    """Stage 1: tokenize the corpus batch -> content + docs + lineage.

    content/docs are partitioned by (batch=build_id, shard): each ingest
    batch owns its partitions, so dynamic-overwrite replay of the same
    batch is idempotent (the Structured Streaming foreachBatch contract,
    streaming/ingest.py) and an interrupted batch resumes via the
    lineage anti-join on (build_id, shard)."""
    p = _paths(out_dir)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    t0 = time.perf_counter()

    done_ids = completed_shards(spark, p["lineage"], build_id)
    prepared = prepare_docs(corpus, n_shards)
    pending = (
        prepared.filter(~F.col("shard").isin(done_ids)) if done_ids else prepared
    )
    # Cross-batch idempotence: a (repo, path) re-delivered in a LATER
    # batch (overlapping micro-batches, file re-sends) must not create a
    # second row under the same doc_id — that would inflate df/cf and
    # put duplicate doc_ids in one posting list. Anti-join against the
    # doc_ids of all OTHER batches, read from their EXPLICIT partition
    # dirs (never the docs root: this job's write targets batch=build_id
    # under the same root, and a root-path self-read-overwrite is a
    # formally unsupported Spark pattern even when dynamic overwrite
    # happens to stage it safely). Replay of the SAME batch stays
    # idempotent via the partition overwrite + lineage anti-join above.
    # Updates-in-place are out of contract: ingest is append-only-new-
    # files, like the reference's ingest cache
    # (reiz/serialization/cache.py:8-25 skips known filenames).
    other_dirs = _other_batch_dirs(p["docs"], build_id)
    if other_dirs:
        existing = (
            spark.read.schema(DOCS_ON_DISK)
            .option("basePath", p["docs"])
            .parquet(*other_dirs)
            .select("doc_id")
        )
        pending = pending.join(existing, "doc_id", "left_anti")

    # Content side table FIRST (the staging table): raw source + doc
    # identity, one shuffle, no UDF in the plan. The structural-verify
    # stage and result rendering are its only query-time readers — docs
    # stays the slim metadata/forward-index table, so no scan of docs
    # ever pays for corpus text (r02 carried content in docs and build
    # throughput regressed 12%).
    content_tbl = pending.select(
        "doc_id", "repo", "path", "commit", "content_sha256", "content",
        F.lit(build_id).alias("batch"), "shard",
    )
    content_tbl.write.mode("overwrite").partitionBy("batch", "shard").parquet(
        p["content"]
    )
    t_content = time.perf_counter()
    staged_raw = spark.read.schema(CONTENT_ON_DISK).parquet(p["content"]).filter(
        F.col("batch") == build_id
    )
    if done_ids:
        staged_raw = staged_raw.filter(~F.col("shard").isin(done_ids))

    # The docs table carries the per-doc tf map (the forward index): the
    # tokenizer UDF runs EXACTLY ONCE per document, reading columnar
    # shard-local content (no shuffle — partitioning is inherited from
    # the content table's layout).
    docs = with_tokens(staged_raw).select(
        "doc_id",
        "repo",
        "path",
        "commit",
        "content_sha256",
        F.col("n_terms").alias("doclen"),
        "parse_ok",
        "terms",
        "batch",
        "shard",
    )
    docs.write.mode("overwrite").partitionBy("batch", "shard").parquet(p["docs"])
    t_docs = time.perf_counter()

    # the lineage aggregate reads the docs just written (explicit
    # schema on every docs re-read: inferring it is a Spark job)
    staged = spark.read.schema(DOCS_ON_DISK).parquet(p["docs"]).filter(
        F.col("batch") == build_id
    )
    if done_ids:
        staged = staged.filter(~F.col("shard").isin(done_ids))

    # lineage rows for the shards we just processed (atomic append AFTER
    # the shard's docs landed — crash before this line => shard re-runs).
    stage1_ms = int((time.perf_counter() - t0) * 1000)
    lineage_rows = (
        staged.groupBy("shard")
        .agg(
            F.count("*").alias("n_files"),
            F.sum(F.when(~F.col("parse_ok"), 1).otherwise(0)).alias("n_parse_failed"),
            F.sum("doclen").alias("n_terms"),
            F.format_string(
                "%016x", F.expr("bit_xor(xxhash64(content_sha256))")
            ).alias("content_sha_xor"),
        )
        .select(
            F.lit(build_id).alias("build_id"),
            "shard",
            F.lit("done").alias("status"),
            "n_files",
            "n_parse_failed",
            "n_terms",
            "content_sha_xor",
            F.lit(stage1_ms).alias("wall_ms"),
        )
    )
    lineage_rows.write.mode("append").parquet(p["lineage"])
    return {
        "stage1_ms": stage1_ms,
        "t_content_write_s": round(t_content - t0, 2),
        "t_docs_write_s": round(t_docs - t0, 2),
        "t_lineage_s": round(time.perf_counter() - t_docs, 2),
    }


def merge_and_encode(
    spark: SparkSession,
    out_dir: str,
    build_id: str = "build-0",
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    fragment_postings: int = FRAGMENT_POSTINGS,
) -> dict:
    """Stages 2-3: dictionary + salted merge + block encode over ALL
    ingested batches (the one-shot / first-merge path; subsequent
    batches should use merge_incremental, which reads only new runs).
    Deterministic given the docs table — re-running after more batches
    produces the superset index, byte-identical to the incremental
    chain (pytest-gated).

    Commit protocol: dictionary + blocks are written to fresh
    dictionary_v{N}/blocks_v{N} dirs, then meta.json is flipped
    atomically (os.replace) to point at both — a crash anywhere before
    the flip leaves the previous committed index fully intact, and a
    reader resolving through meta never observes a mixed pair. The
    whole call holds the writer lock: on an index with a delete ledger
    it rewrites the ledger and flips meta, and a concurrent delete
    commit would otherwise be lost."""
    with _writer_lock(out_dir):
        return _encode_all_runs(
            spark, out_dir, build_id, block_size, k1, b, fragment_postings
        )


def _encode_all_runs(
    spark: SparkSession,
    out_dir: str,
    build_id: str,
    block_size: int,
    k1: float,
    b: float,
    fragment_postings: int,
    extra: dict | None = None,
) -> dict:
    """merge_and_encode's body (the caller holds the writer lock);
    ``extra`` keys join the committed meta."""
    p = _paths(out_dir)
    prev_meta: dict = {}
    if os.path.exists(p["meta"]):
        with open(p["meta"]) as fh:
            prev_meta = json.load(fh)
    version = int(prev_meta.get("version", 0)) + 1
    dict_dir = os.path.join(out_dir, f"dictionary_v{version}")
    blocks_dir = os.path.join(out_dir, f"blocks_v{version}")
    t1 = time.perf_counter()
    all_runs = read_runs(spark, out_dir)
    # deleted docs (operators/deletes.py): docs is an append-only log
    # that keeps tombstoned docs' postings forever — a full re-encode
    # must not resurrect them. Distributed anti-join (never a driver
    # collect; the ledger can be large after years of deletes), and the
    # ledger's (n_docs, dl) totals subtract from the lineage stats.
    from .deletes import deleted_stats as _deleted_stats
    from .deletes import read_tombstones as _read_tombstones

    tomb = _read_tombstones(spark, out_dir, prev_meta)
    if tomb is not None:
        all_runs = all_runs.join(
            tomb.select("doc_id"), "doc_id", "left_anti"
        )
    del_n, del_dl = _deleted_stats(spark, out_dir, prev_meta)
    # Collection stats come from the LINEAGE table (n_batches x n_shards
    # rows), not a docs re-scan: n_docs = sum(n_files - n_parse_failed),
    # total_dl = sum n_terms (failed parses contribute 0 terms). Integer
    # sums => the avgdl float division is bit-identical to the oracle's.
    lin_rows = (
        spark.read.schema(LINEAGE).parquet(p["lineage"])
        .filter(F.col("status") == "done")
        .groupBy("build_id")  # one tiny job: stats AND the batch list
        .agg(
            F.sum(F.col("n_files") - F.col("n_parse_failed")).alias("n_docs"),
            F.sum("n_terms").alias("total_dl"),
        )
        .collect()
    )
    n_docs = sum(int(r["n_docs"] or 0) for r in lin_rows) - del_n
    total_dl = sum(int(r["total_dl"] or 0) for r in lin_rows) - del_dl
    avgdl = total_dl / n_docs if n_docs else 0.0
    merged_batches = sorted(r["build_id"] for r in lin_rows)

    # Final dictionary in ONE write (parquet, not .persist(): at 10^9
    # terms a cache would not fit; a columnar roundtrip always scales).
    # No idf/max_score columns: idf is a pure function of (N, df) and is
    # computed DRIVER-side per query (IndexReader.term_meta) with the
    # same numpy expression the oracle uses — bit-identical, and the
    # build saves an Arrow round-trip of the whole 10^9-term dictionary
    # through a Python stage. Per-block score bounds live on blocks.
    _write_dictionary(
        all_runs.groupBy("term")  # built-in partial+final hash agg — skew-safe
        .agg(F.count("*").alias("df"), F.sum("tf").alias("cf")),
        dict_dir,
    )
    dictionary = spark.read.schema(DICTIONARY_ON_DISK).parquet(dict_dir)
    t_dict = time.perf_counter()

    # ---- stage 3: salted re-shuffle + external merge + block encode -------
    # The shuffle carries term_id = xxhash64(term) (8 bytes), never the
    # term string; the df-driven fan-out map covers ONLY hot terms
    # (df > fragment target — a Zipf head of a few thousand rows) and is
    # broadcast, so there is no 10^12-row postings-dictionary shuffle.
    hot = _hot_map(dictionary, fragment_postings)
    postings = all_runs.withColumn("term_id", _term_id()).select(
        "term_id", "doc_id", "tf", "dl"
    )
    blocks = _encode_postings(postings, hot, block_size)
    # Encoded blocks are tiny (compressed bytes); one extra shuffle by
    # term_bucket collapses the write from n_salted_partitions x
    # n_buckets small files (measured: 1024 at 32x32, a multi-second
    # driver-side commit) to n_buckets files — and a bucket read then
    # touches ONE file instead of 32. Hash partitioning puts each bucket
    # wholly in one task, and AQE sizes the exchange from the data: it
    # only coalesces partitions, never splits one, so every bucket dir
    # still gets exactly one file.
    with _arrow_batch(spark, ENCODE_ARROW_BATCH):
        blocks.repartition("term_bucket").write.mode(
            "overwrite"
        ).partitionBy("term_bucket").parquet(blocks_dir)
    t_blocks = time.perf_counter()

    # the delete ledger survives a full re-encode: docs still carry the
    # deleted rows, so the pointer carries forward — rewritten with
    # every row folded=true (the anti-join above excluded them from the
    # new blocks, so flags and block state must agree; a later
    # compact_deletes seeing them pending would double-subtract df)
    _tomb_meta: dict = {}
    if tomb is not None:
        from .deletes import _stage_ledger

        _tomb_meta, _ = _stage_ledger(
            spark, out_dir, tomb.withColumn("folded", F.lit(True)), version
        )

    meta = {
        "version": version,
        "dictionary_dir": os.path.basename(dict_dir),
        "blocks_dir": os.path.basename(blocks_dir),
        **_tomb_meta,
        "build_id": build_id,
        "n_docs": n_docs,
        "total_dl": total_dl,
        "avgdl": avgdl,
        "k1": k1,
        "b": b,
        "block_size": block_size,
        "fragment_postings": fragment_postings,
        "n_term_buckets": N_TERM_BUCKETS,
        "term_id_collisions": 0,
        "merged_batches": merged_batches,
        "stage23_ms": int((time.perf_counter() - t1) * 1000),
        "t_stats_dict_s": round(t_dict - t1, 2),
        "t_blocks_s": round(t_blocks - t_dict, 2),
        **(extra or {}),
    }
    return _publish(out_dir, meta, prev_meta)


def _term_id():
    """term -> term_id: the build's one term-id expression (query-side
    twin: functions/hashing.spark_xxhash64)."""
    return F.xxhash64("term")


def _term_bucket():
    """term_id -> term_bucket. Equal to pmod(xxhash64(term), N), and
    a function of term_id, so terms sharing an id share a bucket (the
    collision check in _write_dictionary relies on it)."""
    return F.pmod(F.col("term_id"), F.lit(N_TERM_BUCKETS)).cast("int")


def _write_dictionary(terms: DataFrame, path: str) -> None:
    """The one dictionary writer, shared by the full build and the
    delta merge: (term, df, cf) rows, one per term -> term_id and
    term_bucket added, whole buckets per task (one parquet file per
    bucket dir; AQE sizes the exchange from the data — at most
    N_TERM_BUCKETS non-empty partitions, so a fixed fan-out above that
    only adds empty tasks).

    The term_id collision invariant (schema.py BLOCKS note) is checked
    INSIDE this write: every term_id must map to exactly one term — a
    collision would silently merge two posting lists. term_bucket is a
    function of term_id, so colliding terms share a bucket, and once a
    bucket is ordered by term_id they are adjacent: lag(term_id) over
    the bucket finds each one. The window adds no exchange (the
    repartition already clusters by term_bucket) and the count rides
    the write as an observed metric — no re-read of the dictionary, no
    extra job. A retried task can only add to the count, never drop a
    match. Raises before the caller commits anything."""
    seen = Observation("term_id_collisions")
    in_bucket = Window.partitionBy("term_bucket").orderBy("term_id")
    (
        terms.select("term", "df", "cf", _term_id().alias("term_id"))
        .withColumn("term_bucket", _term_bucket())
        .repartition("term_bucket")
        .withColumn("_prev_id", F.lag("term_id").over(in_bucket))
        .observe(
            seen,
            F.count(F.when(F.col("_prev_id") == F.col("term_id"), 1)).alias("n"),
        )
        .drop("_prev_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(path)
    )
    collisions = int(seen.get["n"] or 0)
    if collisions:
        raise RuntimeError(
            f"xxhash64 term_id collision on {collisions} ids — "
            "re-key the dictionary (e.g. widen to (term_id, len(term)))"
        )


def _hot_map(dictionary: DataFrame, fragment_postings: int) -> DataFrame:
    """(term_id, n_frag) for hot terms only — broadcast-sized Zipf head."""
    return dictionary.filter(F.col("df") > fragment_postings).select(
        "term_id",
        F.ceil(F.col("df") / F.lit(fragment_postings)).cast("int").alias("n_frag"),
    )


def _encode_postings(
    postings: DataFrame, hot: DataFrame, block_size: int
) -> DataFrame:
    """(term_id, doc_id, tf, dl) -> compressed block rows.

    Hash partitioning on (term_id, salt): the ONE full-data shuffle of
    the pipeline, deterministic (no range-sampling pass, which would
    re-execute the upstream scan), skew-free by construction (hot terms
    fan out over salt = pmod(xxhash64(doc_id), n_frag) — a pure function
    of doc_id, so fragment membership is stable across full and
    incremental builds).

    The exchange takes spark.sql.shuffle.partitions and AQE coalesces it
    from the data (Hyper Dimension Shuffle, VLDB 2019: let the data
    size the fan-out). A fixed 3x-cores floor used to split the encode
    of a 2,027-file bench build into 12 tasks on 4 cores, and every
    Python task pays a fixed ~0.27 s before its UDF starts, even on a
    reused worker: pyspark's worker_util.setup_spark_files calls
    importlib.invalidate_caches() per task, which under Python 3.11
    re-reads pyspark.zip's directory once per cached zipimporter. Three
    waves of that overhead cost more than the encode itself (the
    per-invocation UDF tax of "Accelerating Python UDFs in Vectorized
    Query Execution", CIDR 2022); fewer, fuller tasks amortize it."""
    salted = (
        postings.join(F.broadcast(hot), "term_id", "left")
        .na.fill({"n_frag": 1})
        .withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.col("n_frag")).cast("int"))
    )
    encode = _make_block_encoder(block_size)
    # tf/dl cross the exchange AND the Python boundary as int32 (guide
    # §2.3 narrower types): tf <= doc length <= dl, and doclen is
    # int-bounded by the tokenizer (a single file with 2^31 terms is
    # beyond any input contract) — measured r8, the encode stage's cost
    # is per-BYTE boundary tax, so 40 -> 32 bytes/row is a direct cut.
    # The encoder widens back to int64/uint64 before the varint kernel,
    # so the emitted block bytes are identical. A value outside int32
    # fails the task (_narrow_int32) instead of wrapping into corrupt
    # blocks when ANSI casts are off.
    return (
        salted.repartition("term_id", "salt")
        .sortWithinPartitions("term_id", "salt", "doc_id")
        .select(
            "term_id", "salt", "doc_id", _narrow_int32("tf"), _narrow_int32("dl")
        )
        .mapInArrow(encode, schema=BLOCKS_WITH_BUCKET)
    )


def _narrow_int32(name: str):
    """Cast a long column to int, raising (JVM-side, in the same
    projection — no extra job) when the value does not fit."""
    c = F.col(name)
    return (
        F.when(
            ~c.between(-(2**31), 2**31 - 1),
            F.raise_error(
                F.concat(F.lit(f"{name} = "), c.cast("string"),
                         F.lit(" does not fit the int32 block-encode column"))
            ),
        )
        .otherwise(c.cast("int"))
        .alias(name)
    )


def _decode_blocks_to_postings(blocks_df: DataFrame) -> DataFrame:
    """Inverse of the encoder: block rows -> (term_id, doc_id, tf, dl).

    ONE vectorized decode per batch (codec.decode_postings_batch, r8):
    the payload streams of all blocks in the batch are concatenated
    (one C-level join each) and varint-decoded in a single pass, with
    doc_ids reconstructed by a segmented mod-2^64 cumulative sum — the
    r7 decoder ran three varint calls per block row in Python, which
    was the dominant per-row cost of the update lifecycle's
    decode+re-encode (blocks_write). Round-trip equality is
    pytest-gated (test_codec / test_fragment_merge)."""
    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            tid = pdf["term_id"].to_numpy(np.int64)
            fd = pdf["first_doc_id"].to_numpy(np.int64)
            nd = pdf["n_docs"].to_numpy(np.int64)
            doc_ids, tfs, dls = codec.decode_postings_batch(
                fd, nd,
                b"".join(pdf["doc_deltas"]),
                b"".join(pdf["tfs"]),
                b"".join(pdf["dls"]),
            )
            yield pd.DataFrame(
                {
                    "term_id": np.repeat(tid, nd),
                    "doc_id": doc_ids,
                    "tf": tfs,
                    "dl": dls,
                }
            )

    return blocks_df.mapInPandas(dec, "term_id long, doc_id long, tf long, dl long")


def _assemble_version(
    cur_dir: str, staging_dir: str, new_dir: str, affected_buckets: list[int]
) -> None:
    """Materialize the next table version: affected term_bucket dirs
    MOVE in from staging, untouched buckets HARDLINK file-by-file from
    the current version (metadata-only — no data copy; parquet files
    are immutable once written, so shared inodes are safe). Nothing
    here mutates the current version; the new dir only becomes visible
    when meta.json is flipped."""
    os.makedirs(new_dir, exist_ok=True)
    affected = {f"term_bucket={b}" for b in affected_buckets}
    staged = set()
    if os.path.isdir(staging_dir):
        for part in os.listdir(staging_dir):
            if not part.startswith("term_bucket="):
                continue
            staged.add(part)
            dst = os.path.join(new_dir, part)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            shutil.move(os.path.join(staging_dir, part), dst)
    if os.path.isdir(cur_dir):
        for part in os.listdir(cur_dir):
            if not part.startswith("term_bucket=") or part in staged or part in affected:
                continue
            src = os.path.join(cur_dir, part)
            dst = os.path.join(new_dir, part)
            if os.path.exists(dst):
                shutil.rmtree(dst)
            os.makedirs(dst)
            for fname in os.listdir(src):
                os.link(os.path.join(src, fname), os.path.join(dst, fname))
    shutil.rmtree(staging_dir, ignore_errors=True)


def snapshots(out_dir: str) -> list[dict]:
    """The commit log: one row per committed snapshot, oldest first —
    version, build_id, n_docs, merged batches, and whether the
    snapshot's data dirs are still within the GC retention window
    (readable=True -> IndexReader(..., at_version=version) works)."""
    import re

    pat = re.compile(r"^meta_v(\d+)\.json$")
    out = []
    try:
        names = os.listdir(out_dir)
    except OSError:
        return []
    for name in sorted(names, key=lambda n: int(pat.match(n).group(1))
                       if pat.match(n) else -1):
        m = pat.match(name)
        if not m:
            continue
        with open(os.path.join(out_dir, name)) as fh:
            meta = json.load(fh)
        # resolve through table_dir() so readable agrees EXACTLY with
        # what IndexReader(..., at_version=N) will open (a meta lacking
        # the *_dir key falls back to the same _v1 default, instead of
        # degrading to isdir(out_dir) == always-True)
        readable = all(
            os.path.isdir(table_dir(out_dir, meta, t))
            for t in ("dictionary", "blocks")
        )
        out.append({
            "version": int(m.group(1)),
            "build_id": meta.get("build_id"),
            "n_docs": meta.get("n_docs"),
            "merged_batches": meta.get("merged_batches", []),
            "readable": readable,
        })
    return out


def merge_incremental(spark: SparkSession, out_dir: str) -> dict:
    """Merge batches ingested since the last merge into the existing
    dictionary + blocks — WITHOUT re-reading or re-encoding untouched
    data (VERDICT r01 item 5; the scale contract for streaming ingest).

    Reads: ONLY the new batches' docs partitions (read_runs, partition
    pruning on batch=...), the dictionary/blocks of the term_buckets
    containing affected terms, and the (tiny) lineage table. Terms untouched by the
    new batches keep their existing block files byte-for-byte.

    The new batches' runs are an ADDED delta for _merge_term_delta (the
    one commit path it shares with compact_deletes): (df, cf) per term
    outer-merged into the affected buckets' dictionary rows, the
    affected fragments' blocks decoded, unioned with the new postings
    (duplicates removed in the encoder -> idempotent under replay of a
    half-committed merge), re-salted with the UPDATED df (fragment
    membership is a pure function of doc_id, so the result is
    content-identical to a from-scratch rebuild — pytest-gated),
    re-encoded, and assembled as a NEW table version.

    Commit protocol (crash-safe, replay-idempotent): staged results are
    assembled into dictionary_v{N+1}/blocks_v{N+1} (affected buckets
    moved in, untouched buckets hardlinked from v{N}), then ONE atomic
    meta.json flip publishes both pointers + merged_batches together. A
    crash anywhere before the flip leaves v{N} fully intact AND
    merged_batches unchanged, so a replay re-reads the OLD dictionary —
    df/cf deltas are never applied twice (the dictionary-level analog of
    the postings dedup). A concurrent reader resolves both dirs from
    one meta snapshot and never sees a mixed pair; the previous version
    is retained one commit before GC.

    Collection stats (n_docs, avgdl) come from the lineage table over
    ALL batches; block metadata is avgdl-free (codec.block_bound), so
    older blocks stay valid as avgdl drifts.

    Update batches (operators/updates.py) carry a tombstone/revert
    sidecar; it folds into the ledger inside the SAME meta flip, so a
    document update is delete-then-add with ONE commit point. The merge
    runs under the writer lock: it rewrites the ledger and flips meta,
    and a concurrent delete/compact commit would otherwise be lost."""
    with _writer_lock(out_dir):
        return _merge_incremental_locked(spark, out_dir)


def _merge_incremental_locked(spark: SparkSession, out_dir: str) -> dict:
    from .deletes import (
        _stage_ledger,
        apply_update_sidecars,
        deleted_stats,
        read_tombstones,
    )
    from .updates import _consume_sidecars

    p = _paths(out_dir)
    with open(p["meta"]) as fh:
        meta = json.load(fh)
    prev_meta = dict(meta)
    merged = set(meta.get("merged_batches", []))
    lin = spark.read.schema(LINEAGE).parquet(p["lineage"]).filter(
        F.col("status") == "done"
    )
    all_batches = sorted(r["build_id"] for r in lin.select("build_id").distinct().collect())
    new_batches = [bb for bb in all_batches if bb not in merged]
    if not new_batches:
        return meta
    t0 = time.perf_counter()

    # batch is a hive partition column: this scan reads ONLY the new
    # batches' docs partition dirs (functionally asserted in
    # tests/test_incremental.py by truncating the old batches' docs
    # files before merging).
    new_runs = read_runs(spark, out_dir, new_batches)
    # deleted docs: a batch can land (lineage 'done') BEFORE a delete
    # folds one of its doc_ids — merging it afterwards must not encode
    # a FOLDED doc's postings into the blocks (read paths mask only
    # PENDING ids, so the doc would silently resurface). FOLDED ids are
    # anti-joined out here, mirroring merge_and_encode's full-ledger
    # discipline. PENDING ids flow through ON PURPOSE: pending means
    # "present in blocks, masked at read" (the Lucene live-docs
    # contract), and a later compact_deletes subtracts exactly the
    # df/cf this merge adds — excluding them here would desync the
    # dictionary from compaction's arithmetic.
    tomb = read_tombstones(spark, out_dir, meta)
    if tomb is not None:
        new_runs = new_runs.join(
            tomb.filter(F.col("folded")).select("doc_id"),
            "doc_id", "left_anti",
        )
    phases: dict[str, float] = {}
    affected_buckets = _merge_term_delta(
        spark, out_dir, meta, new_runs, removed=False, phases=phases
    )
    t_ph = time.perf_counter()
    new_version = int(meta.get("version", 1)) + 1
    # update-batch sidecars: stage the rewritten tombstone ledger and
    # point meta at it — published by the same flip below, so the new
    # version's postings and the old versions' tombstones appear
    # together (the Lucene updateDocument contract)
    ledger = apply_update_sidecars(spark, out_dir, meta, new_batches, new_version)
    if ledger is not None:
        tomb_meta, (del_n, del_dl) = _stage_ledger(
            spark, out_dir, ledger, new_version
        )
        meta.update(tomb_meta)
    else:
        # folded_only: pending tombstones still sit in the blocks (and
        # in the dictionary's df), so they keep counting toward
        # n_docs/avgdl until compact_deletes folds them — the Lucene
        # live-docs contract
        del_n, del_dl = deleted_stats(spark, out_dir, meta, folded_only=True)
    # Stats restricted to the batches actually being PUBLISHED
    # (all_batches was snapshotted above): the lineage scan re-executes
    # at collect time, and a batch landing mid-merge (batch landing does
    # not hold the writer lock) would otherwise be counted in
    # n_docs/avgdl while being in neither merged_batches nor the blocks
    # — violating the fsck collection-stats invariant (ADVICE r07).
    # Matches the merged-only discipline of compact_deletes and fsck.
    stats = lin.filter(F.col("build_id").isin(all_batches)).agg(
        F.sum(F.col("n_files") - F.col("n_parse_failed")).alias("n_docs"),
        F.sum("n_terms").alias("total_dl"),
    ).collect()[0]
    n_docs = int(stats["n_docs"] or 0) - del_n
    total_dl = int(stats["total_dl"] or 0) - del_dl
    if affected_buckets is not None:  # None: the batches hold no posting
        meta["dictionary_dir"] = f"dictionary_v{new_version}"
        meta["blocks_dir"] = f"blocks_v{new_version}"
    meta.update(
        {
            "version": new_version,
            "n_docs": n_docs,
            "total_dl": total_dl,
            "avgdl": total_dl / n_docs if n_docs else 0.0,
            "merged_batches": all_batches,
            "last_merge_ms": int((time.perf_counter() - t0) * 1000),
            "last_merge_new_batches": new_batches,
            "last_merge_affected_buckets": affected_buckets or [],
            # per-phase attribution (VERDICT r07 #1): new_stats = new
            # runs agg, dict_write = outer-merge + staging + collision
            # check, blocks_write = keep/decode/re-encode + staging,
            # sidecar_commit = ledger + stats + flip
            "last_merge_phases_ms": {
                k: int(v * 1000) for k, v in {
                    **phases,
                    "sidecar_commit": time.perf_counter() - t_ph,
                }.items()
            },
        }
    )
    _publish(out_dir, meta, prev_meta)
    if ledger is not None:
        _consume_sidecars(out_dir, new_batches)
    return meta


def _merge_term_delta(
    spark: SparkSession,
    out_dir: str,
    meta: dict,
    delta_runs: DataFrame,
    removed: bool,
    phases: dict[str, float],
) -> list[int] | None:
    """The one term-delta merge behind every posting mutation: fold the
    runs rows (term, doc_id, tf, dl) of ``delta_runs`` into the
    dictionary and blocks of ``meta``'s snapshot — ADDED
    (merge_incremental) or REMOVED (compact_deletes) — and assemble
    dictionary_v{N+1}/blocks_v{N+1}, N = meta["version"]. Nothing is
    published: the caller adds its own ledger and stats and flips meta
    (_publish). Returns the affected term buckets, or None (nothing
    staged) when the delta holds no posting.

    Steps, each written once for both signs:
    - signed (df, cf) per term, and the term buckets they touch;
    - dictionary: one full outer join within the affected buckets,
      then df > 0 (never drops a row for a merge; drops the terms a
      compaction emptied);
    - fragment plan: a block's fragment is pmod(xxhash64(first_doc_id),
      n_frag), a pure function of doc_id. A term whose df stays
      positive with an UNCHANGED fragment count decodes and re-encodes
      only the fragments the delta touches; the rest keep their block
      rows byte-for-byte. New or emptied terms, and terms whose n_frag
      steps, re-encode whole (fragment membership reshuffles). Without
      this, one posting in a corpus-wide hot term (node:Call at 10^12
      docs) would re-encode the ENTIRE posting list — update cost ∝
      corpus instead of ∝ changed data;
    - re-encode input: decoded ∪ added postings, or decoded minus the
      removed doc_ids;
    - kept and re-encoded block rows in ONE bucket-partitioned write,
      so every staged bucket dir holds one file, as after a full build
      (kept rows written shuffle-free plus an appended write would
      save the exchange but leave two files per affected bucket, more
      after every commit). AQE sizes each bucket exchange from the
      data, whole buckets per task.

    Both persisted intermediates are released in a ``finally``, so a
    failed commit leaks no cached RDD."""
    version = int(meta.get("version", 1))
    cur_dict_dir = table_dir(out_dir, meta, "dictionary")
    cur_blocks_dir = table_dir(out_dir, meta, "blocks")
    block_size = int(meta["block_size"])
    fragment_postings = int(meta.get("fragment_postings", FRAGMENT_POSTINGS))
    sign = -1 if removed else 1
    t_ph = time.perf_counter()
    # persisted: the stats, the touched-fragment map and the re-encode
    # input all consume the delta — uncached, a compaction's pruned
    # runs scan + semi join ran once per consumer
    delta_runs = delta_runs.persist()
    delta = (
        delta_runs.groupBy("term")
        .agg(
            (F.count("*") * sign).alias("df_delta"),
            (F.sum("tf") * sign).alias("cf_delta"),
        )
        .withColumn("term_id", _term_id())
        .withColumn("term_bucket", _term_bucket())
    ).persist()
    try:
        affected_buckets = sorted(
            r["term_bucket"] for r in delta.select("term_bucket").distinct().collect()
        )
        phases["del_stats" if removed else "new_stats"] = time.perf_counter() - t_ph
        if not affected_buckets:
            return None
        affected_ids = delta.select("term_id").distinct()

        # --- dictionary: outer-merge within the affected buckets only ------
        t_ph = time.perf_counter()
        old_dict = spark.read.schema(DICTIONARY_ON_DISK).parquet(cur_dict_dir).filter(
            F.col("term_bucket").isin(affected_buckets)
        )
        upd_dict = (
            old_dict.select("term", "df", "cf")
            .join(delta.select("term", "df_delta", "cf_delta"), "term", "full_outer")
            .select(
                "term",
                (F.coalesce("df", F.lit(0)) + F.coalesce("df_delta", F.lit(0))).alias("df"),
                (F.coalesce("cf", F.lit(0)) + F.coalesce("cf_delta", F.lit(0))).alias("cf"),
            )
            .filter(F.col("df") > 0)
        )
        dict_staging = os.path.join(out_dir, "dictionary_staging")
        _write_dictionary(upd_dict, dict_staging)
        staged_dict = spark.read.schema(DICTIONARY_ON_DISK).parquet(dict_staging)
        phases["dict_write"] = time.perf_counter() - t_ph

        # --- blocks: re-encode ONLY the affected FRAGMENTS -----------------
        t_ph = time.perf_counter()
        old_blocks = spark.read.schema(BLOCKS_ON_DISK).parquet(cur_blocks_dir).filter(
            F.col("term_bucket").isin(affected_buckets)
        )
        delta_postings = delta_runs.withColumn("term_id", _term_id()).select(
            "term_id", "doc_id", "tf", "dl"
        )
        fp = F.lit(float(fragment_postings))
        df_old = F.coalesce("df_old", F.lit(0))
        df_new = df_old + F.col("df_delta")
        nf_old = F.greatest(F.lit(1), F.ceil(df_old / fp)).cast("int")
        nf_new = F.greatest(F.lit(1), F.ceil(df_new / fp)).cast("int")
        frag_plan = (
            delta.select("term_id", "df_delta")
            .join(
                old_dict.select("term_id", F.col("df").alias("df_old")),
                "term_id", "left",
            )
            .select(
                "term_id",
                nf_new.alias("n_frag"),
                (
                    F.col("df_old").isNotNull() & (df_new > 0) & (nf_old == nf_new)
                ).alias("partial"),
            )
        )
        partial = frag_plan.filter(F.col("partial")).select("term_id", "n_frag")
        full_ids = frag_plan.filter(~F.col("partial")).select("term_id")
        touched = (
            delta_postings.join(partial, "term_id")
            .select(
                "term_id",
                F.pmod(F.xxhash64("doc_id"), F.col("n_frag")).cast("int").alias("salt"),
            )
            .distinct()
        )
        partial_blocks = old_blocks.join(partial, "term_id").withColumn(
            "salt",
            F.pmod(F.xxhash64("first_doc_id"), F.col("n_frag")).cast("int"),
        )
        cols = [f.name for f in BLOCKS_WITH_BUCKET.fields]
        keep_blocks = (
            old_blocks.join(affected_ids, "term_id", "left_anti")
            .unionByName(
                partial_blocks.join(touched, ["term_id", "salt"], "left_anti")
                .select(*cols)
            )
        )
        decode_blocks = (
            old_blocks.join(full_ids, "term_id", "left_semi")
            .unionByName(
                partial_blocks.join(touched, ["term_id", "salt"], "left_semi")
                .select(*cols)
            )
        )
        decoded = _decode_blocks_to_postings(decode_blocks)
        if removed:
            postings = decoded.join(
                F.broadcast(delta_runs.select("doc_id").distinct()),
                "doc_id", "left_anti",
            )
        else:
            # replay idempotence WITHOUT a distinct(): duplicate postings
            # from a replayed half-committed merge are removed inside the
            # block encoder (sorted-adjacent mask in _make_block_encoder)
            # — a distinct() here would be a second corpus-sized exchange
            # on a key different from the encode shuffle's (guide §2.4)
            postings = decoded.unionByName(delta_postings)
        hot = _hot_map(
            staged_dict.filter(F.col("term_bucket").isin(affected_buckets)),
            fragment_postings,
        )
        new_blocks = _encode_postings(postings, hot, block_size)
        blocks_staging = os.path.join(out_dir, "blocks_staging")
        with _arrow_batch(spark, ENCODE_ARROW_BATCH):
            (
                keep_blocks.select(*cols)
                .unionByName(new_blocks.select(*cols))
                .repartition("term_bucket")
                .write.mode("overwrite")
                .partitionBy("term_bucket")
                .parquet(blocks_staging)
            )
        phases["blocks_write"] = time.perf_counter() - t_ph
    finally:
        delta.unpersist()
        delta_runs.unpersist()

    new_version = version + 1
    _assemble_version(
        cur_blocks_dir, blocks_staging,
        os.path.join(out_dir, f"blocks_v{new_version}"), affected_buckets,
    )
    _assemble_version(
        cur_dict_dir, dict_staging,
        os.path.join(out_dir, f"dictionary_v{new_version}"), affected_buckets,
    )
    return affected_buckets


def build_index(
    spark: SparkSession,
    corpus: DataFrame,
    out_dir: str,
    build_id: str = "build-0",
    n_shards: int = 8,
    block_size: int = BLOCK_SIZE,
    k1: float = BM25_K1,
    b: float = BM25_B,
    fragment_postings: int = FRAGMENT_POSTINGS,
) -> dict:
    """Full build = stage1_ingest + merge_and_encode. Safe to re-run
    after a crash: completed shards are skipped via the lineage
    anti-join; the merge + block stage is deterministic given docs."""
    s1 = stage1_ingest(spark, corpus, out_dir, build_id=build_id, n_shards=n_shards)
    with _writer_lock(out_dir):
        return _encode_all_runs(
            spark, out_dir, build_id, block_size, k1, b, fragment_postings,
            extra={**s1, "n_shards": n_shards},
        )


def _make_block_encoder(block_size: int):
    """mapInArrow encoder: rows sorted by (term_id, salt, doc_id) within
    the partition -> block rows.

    Fully vectorized across fragments AND across the Python/Arrow
    boundary (codec.encode_blocks_arrow): code-corpus vocabularies are
    heavy-tailed, so a partition holds ~10^5 mostly-single-block
    fragments and anything per-fragment in Python dominates the build —
    the r7 pandas encoder still built three Python ``bytes`` objects
    per block; the Arrow encoder wraps the varint streams in binary
    columns via from_buffers with zero per-block allocations (r8,
    guide §4.2). One output RecordBatch per input batch; a fragment
    spanning batch boundaries is carried over, so memory is bounded by
    the fragment target (FRAGMENT_POSTINGS) + batch size."""
    import numpy as np

    def encode(batches):
        import pyarrow as pa  # noqa: F401 (worker-side import)

        carry: tuple | None = None

        def run(tids, salts, docs_, tfs_, dls_):
            # in-kernel replay dedup (r8): rows arrive sorted by
            # (term_id, salt, doc_id), so duplicate postings — the
            # replayed-merge case merge_incremental used to guard with
            # a full .distinct() exchange — are ADJACENT; one boolean
            # mask removes them for free. A (term_id, doc_id) pair
            # cannot legitimately carry two different (tf, dl) values
            # (cross-batch anti-join + folded-ledger anti-join), so
            # same-key-adjacent == exact-duplicate-row here.
            keep = np.empty(tids.size, dtype=bool)
            keep[0] = True
            keep[1:] = (
                (tids[1:] != tids[:-1])
                | (salts[1:] != salts[:-1])
                | (docs_[1:] != docs_[:-1])
            )
            if not keep.all():
                tids, docs_, tfs_, dls_ = (
                    tids[keep], docs_[keep], tfs_[keep], dls_[keep]
                )
                salts = salts[keep]
            frag_start = np.empty(tids.size, dtype=bool)
            frag_start[0] = True
            frag_start[1:] = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])
            return codec.encode_blocks_arrow(
                tids, docs_, tfs_, dls_, frag_start, block_size,
                N_TERM_BUCKETS,
            )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            cols = tuple(
                np.asarray(batch.column(i).to_numpy(zero_copy_only=False))
                for i in range(5)
            )
            if carry is not None:
                cols = tuple(
                    np.concatenate((c, x)) for c, x in zip(carry, cols)
                )
                carry = None
            tids, salts = cols[0], cols[1]
            change = np.empty(tids.size, dtype=bool)
            change[0] = True
            change[1:] = (tids[1:] != tids[:-1]) | (salts[1:] != salts[:-1])
            last_start = int(np.flatnonzero(change)[-1])
            carry = tuple(np.ascontiguousarray(c[last_start:]) for c in cols)
            if last_start:
                out = run(*(c[:last_start] for c in cols))
                if out is not None:
                    yield out
        if carry is not None and carry[0].size:
            out = run(*carry)
            if out is not None:
                yield out

    return encode
