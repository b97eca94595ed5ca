"""spark-submit entry points (north rule: "runs via spark-submit
--py-files on multi-executor clusters").

Usage (cluster):
    zip -r reiz_io_spark.zip reiz_io_spark
    spark-submit --py-files reiz_io_spark.zip -m reiz_io_spark.cli build \\
        --corpus table:lake.code_corpus --out s3://bucket/index --shards 4096
    spark-submit ... query --index s3://bucket/index \\
        --pattern "Call(Name('len'))" -k 10 [--explain]
    spark-submit ... synth --out /tmp/corpus.parquet --files 100000

Locally the same commands run with python -m reiz_io_spark.cli (the
session factory falls back to local[$SPARK_GRAFT_CPUS]).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="reiz_io_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument("--corpus", required=True, help="parquet path or table:<name>")
    b.add_argument("--out", required=True)
    b.add_argument("--build-id", default="build-0")
    b.add_argument("--shards", type=int, default=64)
    b.add_argument("--block-size", type=int, default=128)

    q = sub.add_parser(
        "query", help="run a ReizQL pattern against an index or a "
        "comma-separated shard set (global BM25 stats — bit-identical "
        "to one index over the union corpus)"
    )
    q.add_argument("--index", help="single index dir")
    q.add_argument("--indexes", help="comma-separated shard dirs")
    q.add_argument("--pattern", required=True)
    q.add_argument("-k", type=int, default=10)
    q.add_argument("--naive", action="store_true", help="runs-table path (no WAND)")
    q.add_argument("--at-version", type=int, default=None,
                   help="time-travel: query a retained earlier snapshot")
    q.add_argument("--explain", action="store_true",
                   help="print lowered terms + Spark physical plan")
    q.add_argument("--after", default=None, metavar="SCORE,DOC_ID",
                   help="keyset cursor: page strictly after this "
                        "(score, doc_id) — the deep-paging primitive")

    rs = sub.add_parser(
        "reshard", help="re-split a shard set to a different shard "
        "count WITHOUT re-tokenizing (logs -> staged routed copy -> "
        "per-shard encode; queries bit-identical across the reshard)"
    )
    rs.add_argument("--indexes", required=True,
                    help="comma-separated OLD shard index dirs")
    rs.add_argument("--new-n", type=int, required=True)
    rs.add_argument("--out", required=True, help="root dir for the new shards")

    s = sub.add_parser("synth", help="write a deterministic synthetic corpus")
    s.add_argument("--out", required=True)
    s.add_argument("--files", type=int, default=10_000)
    s.add_argument("--seed", type=int, default=42)

    fk = sub.add_parser(
        "fsck", help="index integrity check: metadata invariants "
        "(default) or full block/ledger/fingerprint verification "
        "(--deep); exit 1 on any failure"
    )
    fk.add_argument("--index", required=True)
    fk.add_argument("--deep", action="store_true")

    fka = sub.add_parser(
        "fsck-ann", help="ANN index integrity check (sidecar shapes, "
        "segment counts vs meta, ledger; --deep: no duplicate vec_ids)"
    )
    fka.add_argument("--index", required=True)
    fka.add_argument("--deep", action="store_true")

    fkt = sub.add_parser(
        "fsck-trigrams", help="trigram-sidecar integrity check "
        "(generations/coverage/meta; --deep: fragments decode, salt "
        "purity, dictionary df == fragment sums == content recount)"
    )
    fkt.add_argument("--index", required=True)
    fkt.add_argument("--deep", action="store_true")

    fkf = sub.add_parser(
        "fsck-federation", help="shard-set integrity: per-shard fsck + "
        "cross-shard invariants (live doc_id disjointness, k1/b/layout "
        "agreement, routing-convention report)"
    )
    fkf.add_argument("--indexes", required=True,
                     help="comma-separated shard dirs")
    fkf.add_argument("--deep", action="store_true")

    xp = sub.add_parser(
        "explain-score", help="per-term BM25 contribution breakdown for "
        "the pattern's top-k docs (the Elasticsearch _explain analog)"
    )
    xp.add_argument("--index", required=True)
    xp.add_argument("--pattern", required=True)
    xp.add_argument("-k", type=int, default=1,
                    help="explain the top-k docs (default: top-1)")

    fc = sub.add_parser(
        "facets", help="exact per-facet doc counts of the pattern's "
        "match set (one index or a comma-separated shard set)"
    )
    fc.add_argument("--index", help="single index dir")
    fc.add_argument("--indexes", help="comma-separated shard dirs")
    fc.add_argument("--pattern", required=True)
    fc.add_argument("--by", default="repo",
                    help="docs-table facet column (default: repo)")
    fc.add_argument("-k", type=int, default=None, help="top-k facets")

    ex = sub.add_parser(
        "export", help="clone a committed snapshot to a new dir "
        "(backup/restore/promote-to-serving; --at-version time-travels)"
    )
    ex.add_argument("--index", required=True)
    ex.add_argument("--out", required=True)
    ex.add_argument("--at-version", type=int, default=None)
    ex.add_argument("--no-sidecars", action="store_true")
    ex.add_argument("--no-verify", action="store_true",
                    help="skip the post-copy fsck")

    st = sub.add_parser("stats", help="index stats (the reference's /stats)")
    st.add_argument("--index", required=True)

    sv = sub.add_parser(
        "serve", help="HTTP query service over a warm index (POST /query, "
        "/analyze; GET /stats — the reference's web/api.py analog)"
    )
    sv.add_argument("--index", help="single index dir")
    sv.add_argument("--indexes", help="comma-separated SHARD dirs — "
                    "serve the federation (dfs stats, warm zero-job "
                    "queries incl. structural positions)")
    sv.add_argument("--host", default="127.0.0.1")
    sv.add_argument("--port", type=int, default=8099)
    sv.add_argument(
        "--auto-refresh-s", type=float, default=None,
        help="re-stat meta.json at most this often and rebind to newer "
        "committed snapshots (live-maintained index); default: pinned",
    )

    su = sub.add_parser(
        "stream-upserts", help="catch-up CDC run: apply every corpus "
        "parquet file in a landing dir as update commits "
        "(availableNow trigger; idempotent under full redelivery)"
    )
    su.add_argument("--landing", required=True)
    su.add_argument("--index", required=True)
    su.add_argument("--order-col", default=None,
                    help="latest-wins column for multi-version batches "
                    "(e.g. commit); without it multi-version batches refuse")
    su.add_argument("--checkpoint", default=None)

    mg = sub.add_parser(
        "merge", help="incremental merge of newly ingested batches "
        "(streaming maintenance; reads only new runs)"
    )
    mg.add_argument("--index", required=True)

    sn = sub.add_parser(
        "snapshots", help="list committed index snapshots (version, "
        "batches, readability within the GC retention window)"
    )
    sn.add_argument("--index", required=True)

    dl = sub.add_parser(
        "delete-docs", help="tombstone indexed docs (Lucene-style live "
        "docs: excluded from every query immediately, survivors' "
        "scores unchanged until compact-deletes folds the tombstones)"
    )
    dl.add_argument("--index", required=True)
    dl.add_argument("--repo", help="delete every doc of this repo")
    dl.add_argument("--path-prefix", help="delete docs whose path starts here")

    cd = sub.add_parser(
        "compact-deletes", help="fold pending tombstones into "
        "dictionary+blocks (cost proportional to the deleted docs' "
        "postings; stats recompute over survivors)"
    )
    cd.add_argument("--index", required=True)

    ud = sub.add_parser(
        "undelete-docs", help="drop PENDING tombstones (docs reappear; "
        "folded tombstones refuse — their postings were compacted away)"
    )
    ud.add_argument("--index", required=True)
    ud.add_argument("--repo", help="undelete every doc of this repo")
    ud.add_argument("--path-prefix", help="undelete docs whose path starts here")

    up = sub.add_parser(
        "update-docs", help="apply a corpus batch as document updates "
        "(Lucene updateDocument: old version tombstoned + new version "
        "ingested, both published by ONE commit; unchanged content "
        "skipped; reverts to a pending-deleted version reappear "
        "bit-identically at zero re-encode cost)"
    )
    up.add_argument("--index", required=True)
    up.add_argument(
        "--corpus", required=True,
        help="parquet path or table:<name> of (repo, path, commit, "
        "content, lang) rows carrying the NEW content",
    )

    ab = sub.add_parser(
        "build-ann", help="build the persistent IVF-PQ ANN index over an "
        "embeddings table (codes partitioned by IVF list)"
    )
    ab.add_argument("--embeddings", required=True, help="parquet with (vec_id, embedding)")
    ab.add_argument("--out", required=True)
    ab.add_argument("-m", type=int, default=4, help="PQ subspaces")
    ab.add_argument("--codes", type=int, default=16, help="PQ codebook size")
    ab.add_argument("--lists", type=int, default=16, help="IVF coarse lists")
    ab.add_argument("--append", action="store_true",
                    help="fold new vectors into an existing index "
                    "(frozen quantizers, FAISS `add` semantics)")

    ac = sub.add_parser(
        "compact-ann", help="fold all committed ANN code segments into "
        "one (no re-encode; deferred GC of superseded segments)"
    )
    ac.add_argument("--index", required=True)

    ag = sub.add_parser(
        "gc-ann", help="delete unreferenced ANN code segments older "
        "than --max-age-seconds (crashed-append orphans, superseded "
        "generations) without waiting for the next compaction"
    )
    ag.add_argument("--index", required=True)
    ag.add_argument("--max-age-seconds", type=float, default=3600.0,
                    help="only segments whose newest file is older than "
                    "this are deleted (an in-flight append's staging "
                    "dir is young, so this is safe to run any time)")

    dv = sub.add_parser(
        "delete-vectors", help="tombstone vectors in a persistent ANN "
        "index (excluded from every search immediately; "
        "compact-ann-deletes folds them physically)"
    )
    dv.add_argument("--index", required=True)
    dv.add_argument("--vec-ids", required=True, help="comma-separated")

    uv = sub.add_parser(
        "undelete-vectors", help="drop pending ANN tombstones (vectors "
        "reappear; after a fold, re-append the embeddings instead)"
    )
    uv.add_argument("--index", required=True)
    uv.add_argument("--vec-ids", required=True, help="comma-separated")

    cad = sub.add_parser(
        "compact-ann-deletes", help="physically fold pending vector "
        "deletes (one merged segment minus tombstoned rows; ledger "
        "cleared so deleted ids may be re-appended)"
    )
    cad.add_argument("--index", required=True)

    aq = sub.add_parser(
        "search-ann", help="top-k cosine neighbors from a persistent ANN index"
    )
    aq.add_argument("--index", required=True)
    aq.add_argument("--embeddings", required=True)
    aq.add_argument("--query-ids", required=True,
                    help="comma-separated vec_ids")
    aq.add_argument("-k", type=int, default=10)
    aq.add_argument("--probe", type=int, default=4)
    aq.add_argument("--query-vectors", default=None,
                    help="optional JSON {vec_id: [floats...]} — when "
                    "given, the search never scans the embeddings "
                    "table for query vectors (serving shape)")

    tg = sub.add_parser(
        "build-trigrams",
        help="build the trigram grep sidecar for a committed index",
    )
    tg.add_argument("--index", required=True)

    tgu = sub.add_parser(
        "update-trigrams",
        help="fold content batches merged since the sidecar's last "
        "commit into a new generation (cost ∝ new-batch size)",
    )
    tgu.add_argument("--index", required=True)

    gp = sub.add_parser(
        "grep", help="regex search over an indexed corpus (trigram seek)"
    )
    gp.add_argument("--index", required=True)
    gp.add_argument("--pattern", required=True)
    gp.add_argument("--brute", action="store_true",
                    help="full-scan rlike instead of the trigram seek")
    gp.add_argument("--lines", action="store_true",
                    help="grep -n: one row per matching line with its "
                    "1-based lineno (line-at-a-time semantics)")
    gp.add_argument("--allow-stale", action="store_true",
                    help="search a sidecar built at an older index version")
    gp.add_argument("--limit", type=int, default=100)

    args = ap.parse_args(argv)
    from .session import get_spark

    spark = get_spark(app_name=f"reiz_io_spark-{args.cmd}")
    try:
        return _dispatch(args, spark)
    finally:
        spark.stop()


def _index_dirs(args) -> list[str]:
    """--indexes (comma-separated shard dirs) or --index as a dir list."""
    if args.indexes:
        return [p for p in args.indexes.split(",") if p]
    return [args.index] if args.index else []


def _dispatch(args, spark) -> int:
    if args.cmd == "build":
        from .operators.build import build_index
        from .sources.corpus import read_corpus

        corpus = read_corpus(spark, args.corpus)
        meta = build_index(
            spark, corpus, args.out, build_id=args.build_id,
            n_shards=args.shards, block_size=args.block_size,
        )
        print(json.dumps(meta))
        return 0

    if args.cmd == "query":
        from .operators.score import IndexReader, attach_doc_metadata, naive_bm25_topk
        from .operators.wand import wand_topk
        from .plans.lower import lower_query

        dirs = _index_dirs(args)
        if not dirs:
            print("query: pass --index or --indexes", file=sys.stderr)
            return 2
        if args.indexes and (args.naive or args.at_version is not None):
            print("query: --naive and --at-version read one index "
                  "(--index), not a shard set", file=sys.stderr)
            return 2
        readers = [
            IndexReader(spark, p, at_version=args.at_version) for p in dirs
        ]
        q = lower_query("cli", args.pattern)
        if args.explain:
            print("lowered groups:")
            for g in q.groups:
                print("  ", " OR ".join(str(t) for t in g.terms))
        t0 = time.perf_counter()
        if args.after:
            from .operators.score import bm25_topk_after

            s_str, d_str = args.after.split(",", 1)
            top = bm25_topk_after(
                readers, q, (float(s_str), int(d_str)), k=args.k
            )
        elif args.naive:
            top = naive_bm25_topk(readers[0], q, k=args.k)
        else:
            top = wand_topk(readers, q, k=args.k)
        out = attach_doc_metadata(readers, top)
        if args.explain:
            out.explain("formatted")
        rows = out.collect()
        wall = time.perf_counter() - t0
        for r in rows:
            print(json.dumps({
                "rank": rows.index(r) + 1, "doc_id": r["doc_id"],
                "repo": r["repo"], "path": r["path"],
                "score": round(r["score"], 6),
            }))
        print(f"# {len(rows)} rows in {wall:.3f}s", file=sys.stderr)
        return 0

    if args.cmd == "export":
        from .operators.snapshot import export_snapshot

        meta = export_snapshot(
            spark, args.index, args.out, at_version=args.at_version,
            include_sidecars=not args.no_sidecars,
            verify=not args.no_verify,
        )
        print(json.dumps({"exported_version": meta.get("version"),
                          "n_docs": meta.get("n_docs"), "out": args.out}))
        return 0

    if args.cmd == "explain-score":
        from .operators.score import IndexReader, explain_score
        from .operators.wand import wand_topk
        from .plans.lower import lower_query

        reader = IndexReader(spark, args.index)
        q = lower_query("cli", args.pattern)
        top = wand_topk(reader, q, k=args.k).collect()
        if not top:
            print("# 0 matching docs", file=sys.stderr)
            return 0
        score_of = {int(r["doc_id"]): float(r["score"]) for r in top}
        rows = explain_score(reader, q, list(score_of)).collect()
        for r in rows:
            print(json.dumps({
                "doc_id": r["doc_id"], "term": r["term"],
                "tf": r["tf"], "dl": r["dl"], "df": r["df"],
                "idf": round(r["idf"], 6), "weight": r["weight"],
                "contrib": round(r["contrib"], 6),
                "doc_score": round(score_of[int(r["doc_id"])], 6),
            }))
        return 0

    if args.cmd == "facets":
        from .operators.score import IndexReader, facet_counts
        from .plans.lower import lower_query

        dirs = _index_dirs(args)
        if not dirs:
            print("facets: pass --index or --indexes", file=sys.stderr)
            return 2
        out = facet_counts(
            [IndexReader(spark, p) for p in dirs],
            lower_query("cli", args.pattern), facet_col=args.by, k=args.k,
        )
        for r in out.collect():
            print(json.dumps({args.by: r[args.by], "n_docs": r["n_docs"]}))
        return 0

    if args.cmd == "reshard":
        from .operators.federation import reshard_index

        dirs = [p for p in args.indexes.split(",") if p]
        new_dirs = reshard_index(spark, dirs, args.new_n, args.out)
        print(json.dumps({"shards": new_dirs}))
        return 0

    if args.cmd == "synth":
        from .sources.corpus import synth_corpus_distributed

        df = synth_corpus_distributed(spark, args.files, seed=args.seed)
        df.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"files": args.files, "out": args.out}))
        return 0

    if args.cmd == "serve":
        from .operators.score import IndexReader
        from .serve import QueryService
        from .web import serve as http_serve

        dirs = _index_dirs(args)
        if not dirs:
            print("serve: pass --index or --indexes")
            return 2
        service = QueryService(
            [IndexReader(spark, p).warm() for p in dirs],
            auto_refresh_s=args.auto_refresh_s,
        )
        print(json.dumps({"serving": f"http://{args.host}:{args.port}"}),
              file=sys.stderr)
        http_serve(service, host=args.host, port=args.port)
        return 0

    if args.cmd == "build-trigrams":
        from .operators.regexsearch import build_trigram_index

        print(json.dumps(build_trigram_index(spark, args.index)))
        return 0

    if args.cmd == "update-trigrams":
        from .operators.regexsearch import update_trigram_index

        print(json.dumps(update_trigram_index(spark, args.index)))
        return 0

    if args.cmd == "grep":
        from .operators.regexsearch import (
            grep_bruteforce,
            grep_index,
            grep_lines,
        )

        t0 = time.perf_counter()
        if args.lines:
            fn, order = grep_lines, ["doc_id", "lineno"]
        elif args.brute:
            fn, order = grep_bruteforce, ["doc_id"]
        else:
            fn, order = grep_index, ["doc_id"]
        kw = {} if args.brute else {"allow_stale": args.allow_stale}
        rows = (
            fn(spark, args.index, args.pattern, **kw)
            .orderBy(*order).limit(args.limit).collect()
        )
        wall = time.perf_counter() - t0
        for r in rows:
            print(json.dumps(r.asDict()))
        print(f"# {len(rows)} rows in {wall:.3f}s", file=sys.stderr)
        return 0

    if args.cmd == "build-ann":
        from .operators.ann_index import append_to_ann_index, build_ann_index

        emb = spark.read.parquet(args.embeddings)
        if args.append:
            meta = append_to_ann_index(emb, args.out)
        else:
            meta = build_ann_index(
                emb, args.out, m=args.m, n_codes=args.codes, n_lists=args.lists
            )
        print(json.dumps(meta))
        return 0

    if args.cmd == "compact-ann":
        from .operators.ann_index import compact_ann_index

        print(json.dumps(compact_ann_index(spark, args.index)))
        return 0

    if args.cmd == "gc-ann":
        from .operators.ann_index import gc_ann_index

        deleted = gc_ann_index(
            args.index, max_age_seconds=args.max_age_seconds
        )
        print(json.dumps({"deleted": deleted}))
        return 0

    if args.cmd == "delete-vectors":
        from .operators.ann_index import delete_vectors

        meta = delete_vectors(
            args.index, [int(x) for x in args.vec_ids.split(",") if x]
        )
        print(json.dumps({"version": meta.get("version"),
                          "n_deleted_pending": meta.get("n_deleted_pending", 0)}))
        return 0

    if args.cmd == "undelete-vectors":
        from .operators.ann_index import undelete_vectors

        meta = undelete_vectors(
            args.index, [int(x) for x in args.vec_ids.split(",") if x]
        )
        print(json.dumps({"version": meta.get("version"),
                          "n_deleted_pending": meta.get("n_deleted_pending", 0)}))
        return 0

    if args.cmd == "compact-ann-deletes":
        from .operators.ann_index import compact_ann_deletes

        meta = compact_ann_deletes(spark, args.index)
        print(json.dumps({"version": meta.get("version"),
                          "n_vectors": meta.get("n_vectors"),
                          "segments": meta.get("segments")}))
        return 0

    if args.cmd == "search-ann":
        from .operators.ann_index import ann_index_search

        emb = spark.read.parquet(args.embeddings)
        qids = [int(x) for x in args.query_ids.split(",") if x]
        qvecs = None
        if args.query_vectors:
            qvecs = {
                int(k_): v for k_, v in
                json.loads(args.query_vectors).items()
            }
        rows = ann_index_search(
            spark, args.index, emb, qids, k=args.k, n_probe=args.probe,
            query_vectors=qvecs,
        ).collect()
        for r in rows:
            print(json.dumps({"query_id": r["query_id"],
                              "vec_id": r["vec_id"], "score": r["score"]}))
        return 0

    if args.cmd == "stream-upserts":
        from .streaming.ingest import stream_upserts_into_index

        q = stream_upserts_into_index(
            spark, args.landing, args.index,
            order_col=args.order_col,
            checkpoint_dir=args.checkpoint,
            available_now=True,
        )
        q.awaitTermination(3600)
        with open(f"{args.index}/meta.json") as fh:
            meta = json.load(fh)
        print(json.dumps({
            "version": meta.get("version"),
            "n_docs": meta.get("n_docs"),
            "n_tombstones_pending": meta.get("n_tombstones_pending", 0),
        }))
        return 0

    if args.cmd == "merge":
        from .operators.build import merge_incremental

        meta = merge_incremental(spark, args.index)
        print(json.dumps(meta))
        return 0

    if args.cmd == "snapshots":
        from .operators.build import snapshots

        for snap in snapshots(args.index):
            print(json.dumps(snap))
        return 0

    if args.cmd == "delete-docs":
        from pyspark.sql import functions as F

        from .operators.deletes import delete_docs

        preds = []
        if args.repo:
            preds.append(F.col("repo") == args.repo)
        if args.path_prefix:
            preds.append(F.col("path").startswith(args.path_prefix))
        if not preds:
            print("delete-docs: pass --repo and/or --path-prefix")
            return 2
        pred = preds[0]
        for extra_p in preds[1:]:
            pred = pred & extra_p
        meta = delete_docs(spark, args.index, pred)
        print(json.dumps({
            "version": meta["version"],
            "n_tombstones": meta["n_tombstones"],
            "n_tombstones_pending": meta["n_tombstones_pending"],
        }))
        return 0

    if args.cmd == "update-docs":
        from .operators.updates import update_docs
        from .sources.corpus import read_corpus

        meta = update_docs(spark, args.index, read_corpus(spark, args.corpus))
        print(json.dumps({
            "version": meta["version"],
            "n_docs": meta.get("n_docs"),
            "n_tombstones": meta.get("n_tombstones", 0),
            "n_tombstones_pending": meta.get("n_tombstones_pending", 0),
        }))
        return 0

    if args.cmd == "undelete-docs":
        from pyspark.sql import functions as F

        from .operators.deletes import undelete_docs

        preds = []
        if args.repo:
            preds.append(F.col("repo") == args.repo)
        if args.path_prefix:
            preds.append(F.col("path").startswith(args.path_prefix))
        if not preds:
            print("undelete-docs: pass --repo and/or --path-prefix")
            return 2
        pred = preds[0]
        for extra_p in preds[1:]:
            pred = pred & extra_p
        meta = undelete_docs(spark, args.index, pred)
        print(json.dumps({
            "version": meta["version"],
            "n_tombstones": meta.get("n_tombstones", 0),
            "n_tombstones_pending": meta.get("n_tombstones_pending", 0),
        }))
        return 0

    if args.cmd == "compact-deletes":
        from .operators.deletes import compact_deletes

        meta = compact_deletes(spark, args.index)
        print(json.dumps({
            "version": meta["version"],
            "n_docs": meta.get("n_docs"),
            "avgdl": meta.get("avgdl"),
            "n_tombstones_pending": meta.get("n_tombstones_pending", 0),
        }))
        return 0

    if args.cmd == "fsck":
        from .operators.fsck import fsck_index

        report = fsck_index(spark, args.index, deep=args.deep)
        print(json.dumps(report, indent=2))
        return 0 if all(v["ok"] for v in report.values()) else 1

    if args.cmd == "fsck-ann":
        from .operators.fsck import fsck_ann_index

        report = fsck_ann_index(spark, args.index, deep=args.deep)
        print(json.dumps(report, indent=2))
        return 0 if all(v["ok"] for v in report.values()) else 1

    if args.cmd == "fsck-trigrams":
        from .operators.fsck import fsck_trigrams

        report = fsck_trigrams(spark, args.index, deep=args.deep)
        print(json.dumps(report, indent=2))
        return 0 if all(v["ok"] for v in report.values()) else 1

    if args.cmd == "fsck-federation":
        from .operators.fsck import fsck_federation

        report = fsck_federation(
            spark, args.indexes.split(","), deep=args.deep
        )
        print(json.dumps(report, indent=2))
        return 0 if all(v["ok"] for v in report.values()) else 1

    if args.cmd == "stats":
        from pyspark.sql import functions as F

        from .operators.score import IndexReader

        from .serve import QueryService

        reader = IndexReader(spark, args.index)
        docs = reader.docs()
        stats = {
            **reader.meta,
            "n_files": docs.count(),
            "n_parse_failed": docs.filter(~F.col("parse_ok")).count(),
            "n_terms_in_dictionary": reader.dictionary().count(),
            "n_blocks": reader.blocks().count(),
            # the reference's Module/AST/stmt/expr counts (fetch.py:12)
            **QueryService(reader, max_driver_docmeta=0).statistics(),
        }
        print(json.dumps(stats))
        return 0
    return 2


if __name__ == "__main__":
    raise SystemExit(main())
