"""Sharded indexes: N independent index dirs, one globally-correct
ranked answer.

At 10^12 documents a single index directory is operationally wrong —
builds, compactions, and deletes want to touch a bounded slice, and
serving wants shard-level parallelism and isolation. The standard
architecture (Elasticsearch/Solr shards, Lucene per-segment search)
splits the corpus by a stable hash — here ``pmod(xxhash64(repo),
n_shards)``, the engine's existing shard function — into independent
indexes, each built/merged/compacted with the machinery this repo
already has.

Reads need no code here: every read operator (wand_topk, wand_scores,
bm25_topk_after, explain_score, facet_counts, attach_doc_metadata,
structural_topk) takes a list of IndexReaders. BM25's idf and length
normalization depend on df, n_docs and avgdl over the WHOLE corpus, so
those operators take one statistics step, score.query_stats: resolve
the query's term groups against EVERY shard's dictionary (a LIKE
expansion must see all shards' vocabularies), sum each term's df and
the shards' (n_docs, total_dl) as integers, and derive idf/avgdl with
the single-index expressions (Elasticsearch's dfs_query_then_fetch).
Each shard then runs the unmodified kernels under those stats and the
per-shard frames union. Because the sums run over disjoint doc sets,
the floats are bit-identical to one index over the union corpus
(pytest-gated, rank AND score).

This module keeps what is shard-specific: routing (shard_of,
shard_corpus), per-shard writes (update/delete routed to the owning
shard), grep over a shard set, the ANN tier's federation, and
resharding.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def shard_of(n_shards: int):
    """The corpus->shard routing column: pmod(xxhash64(repo), n) —
    the same stable hash the per-index build shards by, so routing is
    deterministic, repo-colocated (a repo's docs share a shard), and
    computable by any writer without coordination."""
    return F.pmod(F.xxhash64("repo"), F.lit(n_shards)).cast("int")


def shard_corpus(corpus: DataFrame, n_shards: int) -> list[DataFrame]:
    """Split a corpus into n_shards disjoint frames by shard_of —
    each is the input of an independent build_index."""
    withs = corpus.withColumn("_fed_shard", shard_of(n_shards))
    return [
        withs.filter(F.col("_fed_shard") == i).drop("_fed_shard")
        for i in range(n_shards)
    ]


def federated_grep(
    spark: SparkSession,
    index_dirs: list[str],
    pattern: str,
    allow_stale: bool = False,
    driver_decode_max: int | None = None,
) -> DataFrame:
    """Regex/trigram grep over a shard set: each shard runs its OWN
    sidecar candidate seek (driver-side dictionary probe + pruned
    posting reads, or the distributed decode for hot trigrams), and the
    per-shard verify plans union into ONE lazy job. Bit-identical to
    grep_index over a single index holding the union corpus: the doc
    sets are disjoint and both the factor prefilter and the rlike
    verify are per-document, so no cross-shard statistics discipline is
    needed (unlike BM25) — union of per-shard answers IS the global
    answer (pytest-gated). A shard without a committed sidecar degrades
    to its factor-prefiltered scan independently; the other shards keep
    their seeks."""
    from .regexsearch import DRIVER_DECODE_MAX, grep_index

    ddm = DRIVER_DECODE_MAX if driver_decode_max is None else driver_decode_max
    out = None
    for d in index_dirs:
        part = grep_index(
            spark, d, pattern, allow_stale=allow_stale, driver_decode_max=ddm
        )
        out = part if out is None else out.unionByName(part)
    return out


def federated_grep_lines(
    spark: SparkSession,
    index_dirs: list[str],
    pattern: str,
    allow_stale: bool = False,
    driver_decode_max: int | None = None,
) -> DataFrame:
    """``grep -n`` over a shard set — the grep_lines twin of
    federated_grep (same disjoint-doc-set argument, one union job)."""
    from .regexsearch import DRIVER_DECODE_MAX, grep_lines

    ddm = DRIVER_DECODE_MAX if driver_decode_max is None else driver_decode_max
    out = None
    for d in index_dirs:
        part = grep_lines(
            spark, d, pattern, allow_stale=allow_stale, driver_decode_max=ddm
        )
        out = part if out is None else out.unionByName(part)
    return out


def federated_update_docs(
    spark: SparkSession, index_dirs: list[str], corpus: DataFrame
) -> list[dict]:
    """Route an update batch to its owning shards (the same
    pmod(xxhash64(repo), N) hash that placed the docs) and apply one
    update_docs commit per TOUCHED shard. Returns the committed metas
    in shard order (untouched shards return their current meta
    unchanged). Shards commit independently — a mixed batch is N
    atomic per-shard commits, not one global transaction; readers of
    any single shard always see a consistent snapshot, and a crash
    mid-sequence leaves the untouched shards' snapshots intact with
    the failed shard resumable (update_docs' idempotent replay)."""
    from .updates import update_docs

    n = len(index_dirs)
    routed = corpus.withColumn("_fed_shard", shard_of(n))
    metas = []
    for i, d in enumerate(index_dirs):
        part = routed.filter(F.col("_fed_shard") == i).drop("_fed_shard")
        metas.append(update_docs(spark, d, part))
    return metas


def federated_delete_docs(
    spark: SparkSession, index_dirs: list[str], predicate
) -> list[dict]:
    """Apply a delete predicate shard by shard, committing ONLY on
    shards that actually match (a cheap matched-probe per shard keeps
    non-matching shards' snapshot versions untouched). For the common
    delete-one-repo case prefer federated_delete_repo — the routing
    hash names the single owning shard with zero probes."""
    from ..schema import DOCS_ON_DISK
    from .build import _paths
    from .deletes import delete_docs

    metas = []
    for d in index_dirs:
        docs = spark.read.schema(DOCS_ON_DISK).parquet(_paths(d)["docs"])
        if docs.filter(predicate).take(1):
            metas.append(delete_docs(spark, d, predicate))
        else:
            import json as _json

            with open(_paths(d)["meta"]) as fh:
                metas.append(_json.load(fh))
    return metas


def federated_delete_repo(
    spark: SparkSession, index_dirs: list[str], repo: str
) -> dict:
    """Delete one repo: ONE shard owns it (repo-colocated routing), so
    exactly one tombstone commit happens — the others are untouched."""
    from ..functions.hashing import spark_xxhash64
    from .deletes import delete_docs

    i = spark_xxhash64(repo) % len(index_dirs)
    return delete_docs(spark, index_dirs[i], F.col("repo") == repo)


# --------------------------------------------------------------------------
# federated ANN: shard the vector tier like the text tier
# --------------------------------------------------------------------------
#
# The same blast-radius argument that motivated text-index federation
# applies to the ANN tier at 10^9+ vectors — and ANN federation is
# EASIER: cosine scores are locally exact (no global df/avgdl
# discipline), so the union of per-shard exact-refined top-k, re-ranked
# once, IS the global answer over the shards' combined candidates.
# Routing: pmod(xxhash64(vec_id), N) — deterministic, computable by any
# writer without coordination (the vec-tier twin of shard_of).


def shard_of_vec(n_shards: int):
    return F.pmod(F.xxhash64("vec_id"), F.lit(n_shards)).cast("int")


def shard_embeddings(embeddings: DataFrame, n_shards: int) -> list[DataFrame]:
    """Split an embeddings table into n_shards disjoint frames by
    shard_of_vec — each is the input of an independent build_ann_index
    (per-shard quantizers train on their own slice)."""
    withs = embeddings.withColumn("_fed_shard", shard_of_vec(n_shards))
    return [
        withs.filter(F.col("_fed_shard") == i).drop("_fed_shard")
        for i in range(n_shards)
    ]


def build_federated_ann_index(
    embeddings: DataFrame,
    out_dirs: list[str],
    m: int = 4,
    n_codes: int = 16,
    n_lists: int = 16,
    seed: int = 7,
) -> list[dict]:
    """One build_ann_index per shard over the routed slice. Each shard
    trains its OWN quantizers (IVF centroids + PQ codebooks) on its own
    vectors — legal because scores are exact after the refine; only
    candidate selection is approximate, and recall is per-shard."""
    from .ann_index import build_ann_index

    parts = shard_embeddings(embeddings, len(out_dirs))
    return [
        build_ann_index(part, d, m=m, n_codes=n_codes, n_lists=n_lists,
                        seed=seed)
        for part, d in zip(parts, out_dirs)
    ]


def federated_append_to_ann_index(
    embeddings_batch: DataFrame, index_dirs: list[str]
) -> list[dict]:
    """Route an append batch by pmod(xxhash64(vec_id), N) and fold each
    slice into its owning shard (append_to_ann_index's frozen-quantizer
    contract per shard; empty slices no-op). Shards commit
    independently — same per-shard atomicity as federated_update_docs."""
    from .ann_index import append_to_ann_index

    n = len(index_dirs)
    routed = embeddings_batch.withColumn("_fed_shard", shard_of_vec(n))
    metas = []
    for i, d in enumerate(index_dirs):
        part = routed.filter(F.col("_fed_shard") == i).drop("_fed_shard")
        metas.append(append_to_ann_index(part, d))
    return metas


def federated_ann_search(
    spark: SparkSession,
    index_dirs: list[str],
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_probe: int = 4,
    refine_factor: int = 4,
    query_vectors: dict | None = None,
) -> DataFrame:
    """(query_id, vec_id, score) global top-k over the shard set: each
    shard runs its own partition-pruned ADC scan + exact-cosine refine
    (ann_index_search, tombstone-masked per shard), the per-shard
    top-k frames union into ONE lazy plan, and a single window re-rank
    takes the global k. Scores are exact cosines, so the merge needs no
    statistics phase; with probe-all + full-depth refine the result is
    bit-identical to one index over the union vectors AND to the
    brute-force scan (pytest-gated). Query vectors resolve ONCE on the
    driver and are handed to every shard — N shards never multiply the
    embeddings point-lookup."""
    from pyspark.sql.window import Window

    from .ann_index import ann_index_search
    from .pq import resolve_query_vectors

    qvecs = resolve_query_vectors(embeddings, query_ids, query_vectors)
    out = None
    for d in index_dirs:
        part = ann_index_search(
            spark, d, embeddings, query_ids, k=k, n_probe=n_probe,
            refine_factor=refine_factor, query_vectors=qvecs,
        )
        out = part if out is None else out.unionByName(part)
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("vec_id")
    )
    return (
        out.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id", "score")
    )


def reshard_index(
    spark: SparkSession,
    old_dirs: list[str],
    new_n: int,
    out_root: str,
    n_shards_inner: int | None = None,
) -> list[str]:
    """Re-split a shard set to ``new_n`` shards WITHOUT re-tokenizing.

    The tokenizer (an ast.parse per document) dominates build cost; its
    output already lives in the docs/content logs (the posting runs are
    a view over docs). Resharding is
    therefore pure data movement + encode: ONE pass per table unions
    the old shards' logs, drops tombstoned docs (folded deletes must
    not resurrect; version-qualified update identities ride along
    unchanged), routes rows by the new hash, and writes a staging tree
    partitioned by (new shard, batch, inner shard); directory renames
    then place each new shard's partitions, a fresh lineage aggregates
    per inner shard, and merge_and_encode builds dictionary+blocks —
    the only compute is the block encode. Refuses shards with PENDING
    tombstones (compact first: pending semantics — "still counted in
    stats" — cannot carry across a reshard whose stats come from the
    rewritten lineage).

    Returns the new shard dirs. Queries over them are bit-identical to
    the old federation (same doc_ids, same global stats — pytest-gated)."""
    import json
    import os
    import shutil
    import time

    from ..schema import CONTENT_ON_DISK, DOCS_ON_DISK
    from .build import _paths, _write_meta_atomic, merge_and_encode
    from .deletes import read_tombstones

    metas = []
    for d in old_dirs:
        with open(_paths(d)["meta"]) as fh:
            metas.append(json.load(fh))
        if int(metas[-1].get("n_tombstones_pending", 0)):
            raise RuntimeError(
                f"reshard_index: {d} has pending tombstones — run "
                f"compact_deletes first (pending stats semantics cannot "
                f"carry across a reshard)"
            )
    for key in ("k1", "b", "block_size", "fragment_postings"):
        vals = {m.get(key) for m in metas}
        if len(vals) != 1:
            raise ValueError(f"old shards disagree on {key}: {sorted(vals)}")
    inner = n_shards_inner or int(metas[0].get("n_shards", 8))
    batch_id = "reshard-0"

    def _union(table: str, schema):
        out = None
        for d, m in zip(old_dirs, metas):
            df = spark.read.schema(schema).parquet(_paths(d)[table])
            tomb = read_tombstones(spark, d, m)
            if tomb is not None:
                df = df.join(tomb.select("doc_id"), "doc_id", "left_anti")
            out = df if out is None else out.unionByName(df)
        return out

    staging = os.path.join(out_root, "_reshard_staging")
    new_dirs = [os.path.join(out_root, f"shard{j}") for j in range(new_n)]
    for j, nd in enumerate(new_dirs):
        os.makedirs(nd, exist_ok=True)

    # docs carries repo -> route directly; content routes through a
    # broadcast-light doc_id->fed_shard map derived from docs;
    # everything lands in ONE staged write per table
    docs_all = (
        _union("docs", DOCS_ON_DISK)
        .withColumn("fed_shard", shard_of(new_n))
        .withColumn("batch", F.lit(batch_id))
        .withColumn(
            "shard", F.pmod(F.xxhash64("repo"), F.lit(inner)).cast("int")
        )
    )
    route = docs_all.select("doc_id", "fed_shard", "shard")
    for table, schema in (("docs", DOCS_ON_DISK), ("content", CONTENT_ON_DISK)):
        stage_dir = os.path.join(staging, table)
        if table == "docs":
            df = docs_all
        else:
            df = (
                _union(table, schema)
                .drop("batch", "shard")
                .join(route, "doc_id")
                .withColumn("batch", F.lit(batch_id))
            )
        cols = [f.name for f in schema.fields]
        (
            df.select("fed_shard", *cols)
            .repartition("fed_shard", "shard")
            .write.mode("overwrite")
            .partitionBy("fed_shard", "batch", "shard")
            .parquet(stage_dir)
        )
        for j, nd in enumerate(new_dirs):
            src = os.path.join(stage_dir, f"fed_shard={j}", f"batch={batch_id}")
            dst_root = os.path.join(nd, table)
            if not os.path.isdir(src):
                raise RuntimeError(
                    f"reshard_index: new shard {j} received no {table} "
                    f"rows — new_n={new_n} leaves an empty shard for "
                    f"this corpus; pick a smaller new_n"
                )
            os.makedirs(dst_root, exist_ok=True)
            os.replace(src, os.path.join(dst_root, f"batch={batch_id}"))
    shutil.rmtree(staging, ignore_errors=True)

    # lineage + encode per new shard (the stage1 aggregation, verbatim)
    for j, nd in enumerate(new_dirs):
        p = _paths(nd)
        t0 = time.perf_counter()
        docs_j = spark.read.schema(DOCS_ON_DISK).parquet(p["docs"])
        lineage_rows = (
            docs_j.groupBy("shard")
            .agg(
                F.count("*").alias("n_files"),
                F.sum(
                    F.when(~F.col("parse_ok"), 1).otherwise(0)
                ).alias("n_parse_failed"),
                F.sum("doclen").alias("n_terms"),
                F.format_string(
                    "%016x", F.expr("bit_xor(xxhash64(content_sha256))")
                ).alias("content_sha_xor"),
            )
            .select(
                F.lit(batch_id).alias("build_id"),
                "shard",
                F.lit("done").alias("status"),
                "n_files", "n_parse_failed", "n_terms", "content_sha_xor",
                F.lit(0).cast("long").alias("wall_ms"),
            )
        )
        lineage_rows.write.mode("overwrite").parquet(p["lineage"])
        meta = merge_and_encode(
            spark, nd, build_id=batch_id,
            block_size=int(metas[0]["block_size"]),
            k1=float(metas[0]["k1"]), b=float(metas[0]["b"]),
            fragment_postings=int(metas[0]["fragment_postings"]),
        )
        meta["n_shards"] = inner
        meta["resharded_from"] = len(old_dirs)
        meta["reshard_wall_ms"] = int((time.perf_counter() - t0) * 1000)
        _write_meta_atomic(p["meta"], meta)
    return new_dirs
