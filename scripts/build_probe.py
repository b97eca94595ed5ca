"""Round-8 build-section probe: times build_index at the bench's exact
shape (synth corpus, n = 200000 * sf) with per-phase attribution from
the meta the build writes, plus optional trigram-sidecar and
update-lifecycle passes. bench.py stays frozen; these numbers feed
OPTIMIZATION_r08.md.

Usage: python scripts/build_probe.py [--n 200000] [--passes 2]
       [--trigram] [--update]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=200_000)
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--trigram", action="store_true")
    ap.add_argument("--update", action="store_true")
    args = ap.parse_args()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from reiz_io_spark.operators.build import build_index
    from reiz_io_spark.session import get_spark
    from reiz_io_spark.sources.corpus import synth_corpus_distributed

    spark = get_spark(
        app_name="build-probe", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
    )
    corpus = synth_corpus_distributed(spark, args.n, seed=42).cache()
    n_files = corpus.count()
    out = {"n_files": n_files, "passes": []}
    index_dir = None
    for i in range(args.passes):
        d = tempfile.mkdtemp(prefix=f"probe_index_p{i}_")
        t0 = time.perf_counter()
        meta = build_index(spark, corpus, d, build_id="bench",
                           n_shards=max(cpus, 8))
        wall = round(time.perf_counter() - t0, 3)
        out["passes"].append({
            "wall_s": wall,
            "t_content_write_s": meta.get("t_content_write_s"),
            "t_docs_write_s": meta.get("t_docs_write_s"),
            "t_stats_dict_s": meta.get("t_stats_dict_s"),
            "t_blocks_s": meta.get("t_blocks_s"),
        })
        print(f"pass {i}: {json.dumps(out['passes'][-1])}", flush=True)
        if i == args.passes - 1:
            index_dir = d
        else:
            shutil.rmtree(d, ignore_errors=True)

    if args.trigram and index_dir:
        from reiz_io_spark.operators import regexsearch

        t0 = time.perf_counter()
        regexsearch.build_trigram_index(spark, index_dir)
        out["trigram_sidecar_build"] = round(time.perf_counter() - t0, 3)
        print(f"trigram_sidecar_build: {out['trigram_sidecar_build']}",
              flush=True)

    if args.update and index_dir:
        from pyspark.sql import functions as SF

        from reiz_io_spark.operators.deletes import compact_deletes
        from reiz_io_spark.operators.updates import update_docs

        upd_repo = (
            corpus.select("repo").distinct().orderBy("repo").limit(1)
            .collect()[0]["repo"]
        )
        upd_batch = corpus.filter(SF.col("repo") == upd_repo).withColumn(
            "content",
            SF.concat(
                SF.col("content"),
                SF.lit("\n\ndef bench_update_probe(x):\n    return len(x)\n"),
            ),
        )
        out["n_updated_docs"] = upd_batch.count()
        t0 = time.perf_counter()
        update_docs(spark, index_dir, upd_batch)
        out["code_update_commit"] = round(time.perf_counter() - t0, 3)
        with open(os.path.join(index_dir, "meta.json")) as fh:
            out["merge_phases_ms"] = json.load(fh).get("last_merge_phases_ms")
        t0 = time.perf_counter()
        compact_deletes(spark, index_dir)
        out["code_update_compact"] = round(time.perf_counter() - t0, 3)
        with open(os.path.join(index_dir, "meta.json")) as fh:
            out["compact_phases_ms"] = json.load(fh).get("last_compact_phases_ms")
        print(f"update: commit={out['code_update_commit']} "
              f"compact={out['code_update_compact']}", flush=True)

    if index_dir:
        shutil.rmtree(index_dir, ignore_errors=True)
    print("RESULT " + json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
