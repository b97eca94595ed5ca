"""Checkpoint-resume semantics (SURVEY.md §5.2 item 3): kill after some
shards, re-run, final index identical to a clean one-shot build — the
analog of the reference's DB-backed ingest cache (cache.py:8-25)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from reiz_io_spark.functions import codec
from reiz_io_spark.operators.build import build_index


def _vdir(out, table):
    """Resolve the committed versioned dir of dictionary/blocks via meta."""
    import json as _json
    import os as _os

    from reiz_io_spark.operators.build import table_dir

    with open(_os.path.join(out, "meta.json")) as fh:
        return table_dir(out, _json.load(fh), table)



def _decoded_index(spark, out):
    """Semantic content of a built index, independent of file layout."""
    postings = {}
    for row in spark.read.parquet(_vdir(out, "blocks")).collect():
        d, t, l = codec.decode_block(row)
        for i in range(len(d)):
            postings[(row["term_id"], int(d[i]))] = (int(t[i]), int(l[i]))
    docs = {
        (r["repo"], r["path"]): (r["doc_id"], r["content_sha256"], r["doclen"])
        for r in spark.read.parquet(out + "/docs").collect()
    }
    dictionary = {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(_vdir(out, "dictionary")).collect()
    }
    return postings, docs, dictionary


def test_kill_and_resume_rebuilds_identical_index(spark, small_corpus, tmp_path):
    clean_dir = str(tmp_path / "clean")
    resumed_dir = str(tmp_path / "resumed")

    build_index(spark, small_corpus, clean_dir, build_id="b", n_shards=4,
                fragment_postings=64)

    # simulated crash: full build, then destroy 2 shards' outputs AND
    # their lineage rows — as if the job died before committing them.
    build_index(spark, small_corpus, resumed_dir, build_id="b", n_shards=4,
                fragment_postings=64)
    lin = spark.read.parquet(resumed_dir + "/lineage").filter(F.col("shard") < 2)
    surviving = lin.collect()
    for sub in ("docs",):
        for shard in (2, 3):
            shutil.rmtree(
                f"{resumed_dir}/{sub}/batch=b/shard={shard}", ignore_errors=True
            )
    shutil.rmtree(resumed_dir + "/lineage")
    spark.createDataFrame(surviving, spark.read.parquet(clean_dir + "/lineage").schema) \
        .write.mode("overwrite").parquet(resumed_dir + "/lineage")

    # resume: must only reprocess shards 2,3 and converge to the clean index
    build_index(spark, small_corpus, resumed_dir, build_id="b", n_shards=4,
                fragment_postings=64)

    assert _decoded_index(spark, resumed_dir) == _decoded_index(spark, clean_dir)

    # lineage: still exactly 4 'done' rows for this build (no duplicates)
    lin2 = spark.read.parquet(resumed_dir + "/lineage").filter(
        (F.col("build_id") == "b") & (F.col("status") == "done")
    )
    assert lin2.count() == 4
    assert lin2.select("shard").distinct().count() == 4


def test_resume_noop_when_complete(spark, small_corpus, built_index):
    """Re-running a finished build appends no lineage and keeps counts."""
    out, meta = built_index
    before = spark.read.parquet(out + "/lineage").count()
    meta2 = build_index(spark, small_corpus, out, build_id="t", n_shards=4,
                        fragment_postings=64)
    after = spark.read.parquet(out + "/lineage").count()
    assert before == after
    assert meta2["n_docs"] == meta["n_docs"]
