"""Federated search over a SHARDED index: N independent index dirs,
one globally-correct ranked answer.

At 10^12 documents a single index directory is operationally wrong —
builds, compactions, and deletes want to touch a bounded slice, and
serving wants shard-level parallelism and isolation. The standard
architecture (Elasticsearch/Solr shards, Lucene per-segment search)
splits the corpus by a stable hash — here ``pmod(xxhash64(repo),
n_shards)``, the engine's existing shard function — into independent
indexes, each built/merged/compacted with the machinery this repo
already has. The ONLY thing federation must add is statistics
discipline: BM25's idf and length normalization depend on df, n_docs
and avgdl over the WHOLE corpus, so scoring each shard with its local
stats skews scores wherever term frequencies differ across shards
(Elasticsearch's default local-stats mode has exactly this artifact;
its fix, ``dfs_query_then_fetch``, is the two-phase protocol
implemented here):

1. **stats phase** (driver-side, cheap): resolve the query's term
   groups against EVERY shard's dictionary (union — a LIKE expansion
   must see all shards' vocabularies), sum each term's df and the
   shards' (n_docs, total_dl) integer totals, derive global idf/avgdl
   with the exact single-index numpy expression.
2. **query phase** (one Spark job per shard, or one union job): run
   the unmodified block-max WAND kernels on each shard with the
   global stats injected (wand_scores(stats_override=...)), union the
   per-shard candidate frames, and take the global top-k.

Because df/n_docs/total_dl are INTEGER sums over disjoint doc sets,
the derived floats are bit-identical to what one index over the whole
corpus computes — federated results equal single-index results
exactly (pytest-gated, rank AND score), which is also why the driver
entry can share the single-index DuckDB twin.

Scale shape: the stats phase reads only the query terms' dictionary
buckets per shard (partition-pruned, driver-collected, memoized by
each reader); the query phase is the already-audited per-shard WAND
plan; the merge is a union of n_shards × (per-bucket top-k) rows —
constant-bounded, never corpus-sized. Shards can live on different
storage roots; nothing here assumes co-location.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lower import LoweredQuery
from .score import IndexReader, bm25_idf
from .wand import wand_scores


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


def shard_stats(readers: list[IndexReader], terms: list[str]) -> dict:
    """Collection statistics of a shard set as INTEGER sums over the
    shards — n_docs, total_dl and each term's df/cf — with avgdl and idf
    derived from the sums by the single-index expressions
    (score.bm25_idf), so a set of one shard reproduces that index's own
    stats bit-for-bit. Refuses shards that disagree on k1/b.

    {"k1", "b", "n_docs", "total_dl", "avgdl",
     "terms": {term: {"term", "df", "cf", "idf"}}}; terms no shard
    holds are left out."""
    if not readers:
        raise ValueError("shard_stats: no shards")
    k1s = {float(r.meta["k1"]) for r in readers}
    bs = {float(r.meta["b"]) for r in readers}
    if len(k1s) != 1 or len(bs) != 1:
        raise ValueError(
            f"shards disagree on BM25 params (k1={sorted(k1s)}, "
            f"b={sorted(bs)}) — scores would be incomparable; rebuild "
            f"the outlier shard with matching k1/b"
        )
    n_docs = sum(int(r.meta["n_docs"]) for r in readers)
    total_dl = sum(int(r.meta["total_dl"]) for r in readers)
    df: dict[str, int] = {}
    cf: dict[str, int] = {}
    if terms:
        for r in readers:
            for t, m in r.term_meta(terms).items():
                df[t] = df.get(t, 0) + int(m["df"])
                cf[t] = cf.get(t, 0) + int(m["cf"])
    return {
        "k1": k1s.pop(), "b": bs.pop(), "n_docs": n_docs,
        "total_dl": total_dl,
        "avgdl": total_dl / n_docs if n_docs else 0.0,
        "terms": {
            t: {"term": t, "df": d, "cf": cf[t], "idf": bm25_idf(n_docs, d)}
            for t, d in df.items()
        },
    }


def stats_override(avgdl: float, term_stats: dict) -> dict:
    """The wand_scores/explain_score/structural_topk federation hook
    for global stats: {"avgdl", "idf_by_term", "df_by_term"}."""
    return {
        "avgdl": avgdl,
        "idf_by_term": {t: m["idf"] for t, m in term_stats.items()},
        "df_by_term": {t: m["df"] for t, m in term_stats.items()},
    }


def federated_stats(
    readers: list[IndexReader], query: LoweredQuery
) -> tuple[list[tuple[str, ...]], dict, float]:
    """The dfs phase: (global term groups, stats_override, k1) —
    groups are the positional union of every shard's dictionary
    expansion; the stats are shard_stats' integer sums."""
    per_shard_groups = [r.resolve_groups(query) for r in readers]
    groups = [
        tuple(sorted({t for sg in per_shard_groups for t in sg[i]}))
        for i in range(len(query.groups))
    ]
    stats = shard_stats(readers, sorted({t for g in groups for t in g}))
    return groups, stats_override(stats["avgdl"], stats["terms"]), stats["k1"]


def federated_scores(
    spark: SparkSession,
    readers: list[IndexReader],
    query: LoweredQuery,
    k: int | None = 10,
    field_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Union of every shard's wand_scores under global stats —
    unordered (doc_id, score) candidates, per-bucket-top-k bounded."""
    groups, stats, _ = federated_stats(readers, query)
    if not groups or any(len(g) == 0 for g in groups):
        from .wand import _empty_results

        return _empty_results(spark)
    out = None
    for r in readers:
        part = wand_scores(
            r, query, k=k, field_weights=field_weights,
            groups_override=groups, stats_override=stats,
        )
        out = part if out is None else out.unionByName(part)
    return out


def federated_topk(
    spark: SparkSession,
    index_dirs: list[str] | None,
    query: LoweredQuery,
    k: int = 10,
    offset: int = 0,
    field_weights: dict[str, float] | None = None,
    readers: list[IndexReader] | None = None,
) -> DataFrame:
    """Global top-k over the shard set — rank- and score-identical to
    wand_topk over one index holding the union corpus (pytest-gated)."""
    if readers is None:
        readers = [IndexReader(spark, d) for d in index_dirs]
    out = federated_scores(
        spark, readers, query, k=k + offset, field_weights=field_weights
    )
    ranked = out.orderBy(F.desc("score"), F.asc("doc_id"))
    if offset:
        ranked = ranked.offset(offset)
    return ranked.limit(k)


def federated_doc_metadata(
    readers: list[IndexReader], top: DataFrame
) -> DataFrame:
    """attach_doc_metadata across shards: each doc_id lives in exactly
    one shard (disjoint corpora), so the union of per-shard
    (broadcast top-k ⋈ docs) inner joins is exactly one row per hit."""
    out = None
    for r in readers:
        docs = r.docs().select(
            "doc_id", "repo", "path", "commit", "content_sha256"
        )
        part = F.broadcast(top).join(docs, "doc_id")
        out = part if out is None else out.unionByName(part)
    return out.orderBy(F.desc("score"), F.asc("doc_id"))


def federated_topk_after(
    spark: SparkSession,
    index_dirs: list[str] | None,
    query: LoweredQuery,
    cursor: tuple[float, int],
    k: int = 10,
    field_weights: dict[str, float] | None = None,
    readers: list[IndexReader] | None = None,
) -> DataFrame:
    """Cursor (search_after) pagination over the shard set: the page
    strictly after ``cursor`` = (score, doc_id) in the global total
    order (score DESC, doc_id ASC). Per-shard exact candidate sets
    under the global-stats discipline (scores are bit-identical to a
    single union index, so the keyset filter commutes with the shard
    union), ONE lazy plan, the filter BEFORE the global
    TakeOrderedAndProject — deep pages never rank the rows OFFSET
    would. Identical to the single-index cursor page (pytest-gated)."""
    if readers is None:
        readers = [IndexReader(spark, d) for d in index_dirs]
    s0, d0 = float(cursor[0]), int(cursor[1])
    cands = federated_scores(
        spark, readers, query, k=None, field_weights=field_weights
    )
    return (
        cands.filter(
            (F.col("score") < F.lit(s0))
            | ((F.col("score") == F.lit(s0)) & (F.col("doc_id") > F.lit(d0)))
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def federated_facets(
    spark: SparkSession,
    index_dirs: list[str] | None,
    query: LoweredQuery,
    facet_col: str = "repo",
    k: int | None = None,
    readers: list[IndexReader] | None = None,
) -> DataFrame:
    """Exact per-facet doc counts of the query's match set across the
    shard set (score.facet_counts over a federation). Counts are exact
    and identical to the single-index facet over the union corpus:
    each shard's match set is exact under the global-stats discipline
    (scores don't even matter — membership is the conjunction test,
    which is per-document), doc sets are disjoint, and the final
    count aggregate integer-sums across shards in one job. Scale
    shape: per-shard pruned blocks decode + ONE global hash aggregate;
    only (doc_id, facet) rows cross the exchange."""
    if readers is None:
        readers = [IndexReader(spark, d) for d in index_dirs]
    cands = federated_scores(spark, readers, query, k=None)
    if not cands.columns:  # defensive; _empty_results has columns
        return cands
    meta = None
    for r in readers:
        part = r.docs().select("doc_id", facet_col)
        meta = part if meta is None else meta.unionByName(part)
    out = (
        cands.select("doc_id")
        .join(meta, "doc_id")
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(facet_col))
    )
    return out.limit(k) if k is not None else out


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
    output already lives in the docs/runs/content logs. Resharding is
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

    from ..schema import CONTENT_ON_DISK, DOCS_ON_DISK, RUNS_ON_DISK
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

    # docs carries repo -> route directly; runs/content route through a
    # broadcast-light doc_id->fed_shard map derived from docs (runs has
    # no repo column); everything lands in ONE staged write per table
    docs_all = (
        _union("docs", DOCS_ON_DISK)
        .withColumn("fed_shard", shard_of(new_n))
        .withColumn("batch", F.lit(batch_id))
        .withColumn(
            "shard", F.pmod(F.xxhash64("repo"), F.lit(inner)).cast("int")
        )
    )
    route = docs_all.select("doc_id", "fed_shard", "shard")
    for table, schema in (("docs", DOCS_ON_DISK), ("content", CONTENT_ON_DISK),
                          ("runs", RUNS_ON_DISK)):
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
