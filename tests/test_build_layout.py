"""Index layout and the build's fixed Spark-job floor.

- Every term_bucket dir of the committed dictionary and blocks holds
  exactly one parquet file: after a full build, after an update and
  its merge, and after compact_deletes. A bucket read then opens one
  file, and the index carries one parquet footer per bucket.
- One build_index into a fresh directory launches a bounded number of
  Spark jobs, so an avoidable job (a schema-inference read, a collect
  over nothing) fails here instead of hiding in build wall time. The
  two delta commits, update_docs (with its merge) and compact_deletes,
  carry the same kind of bound.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from reiz_io_spark.operators.build import build_index, table_dir
from reiz_io_spark.operators.deletes import compact_deletes
from reiz_io_spark.operators.updates import update_docs
from reiz_io_spark.sources.corpus import synth_corpus

# Spark jobs of one build_index into a fresh dir on this corpus
# (local[8], 8 shuffle partitions): 22 when the stage-1 docs re-reads
# inferred their schema and the resume check collected an empty lineage,
# 18 while stage 1 still wrote a runs table and the term-id collision
# check re-read the dictionary
MAX_BUILD_JOBS = 14
# Spark jobs of update_docs (stage-1 ingest + merge) and of the
# compact_deletes that folds the replaced versions, on the same corpus
# (update: 64 while the merge's collision check re-read the staged
# dictionary)
MAX_UPDATE_JOBS = 60
MAX_COMPACT_JOBS = 42


def _jobs_in_group(spark, group: str, fn) -> int:
    """Run fn() under a Spark job group; return the jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _update_batch(corpus):
    victim = corpus.select("repo").distinct().orderBy("repo").first()["repo"]
    return corpus.filter(F.col("repo") == victim).withColumn(
        "content",
        F.concat(F.col("content"), F.lit("\n\ndef probe(seq):\n    return len(seq)\n")),
    )


def _files_per_bucket(index_dir: str) -> dict[str, dict[str, int]]:
    with open(os.path.join(index_dir, "meta.json")) as fh:
        meta = json.load(fh)
    out = {}
    for table in ("dictionary", "blocks"):
        root = table_dir(index_dir, meta, table)
        out[table] = {
            os.path.basename(b): len(glob.glob(os.path.join(b, "*.parquet")))
            for b in glob.glob(os.path.join(root, "term_bucket=*"))
        }
    return out


def _assert_one_file_per_bucket(index_dir: str, step: str) -> None:
    for table, counts in _files_per_bucket(index_dir).items():
        assert counts, f"{step}: {table} has no bucket dirs"
        bad = {b: n for b, n in counts.items() if n != 1}
        assert not bad, f"{step}: {table} buckets without exactly one file: {bad}"


@pytest.fixture(scope="module")
def layout_index(spark, tmp_path_factory):
    """A private index built under a job group, with its job count."""
    corpus = synth_corpus(spark, n_filler=60, seed=42).cache()
    corpus.count()
    out = str(tmp_path_factory.mktemp("layout_index"))
    n_jobs = _jobs_in_group(
        spark, "test_build_layout.fresh_build",
        lambda: build_index(spark, corpus, out, build_id="b0", n_shards=2,
                            fragment_postings=64),
    )
    return {"dir": out, "corpus": corpus, "n_jobs": n_jobs}


def test_fresh_build_job_count(layout_index):
    assert 0 < layout_index["n_jobs"] <= MAX_BUILD_JOBS


def test_one_file_per_bucket_through_maintenance(spark, layout_index):
    out, corpus = layout_index["dir"], layout_index["corpus"]
    _assert_one_file_per_bucket(out, "build_index")

    victim = corpus.select("repo").distinct().orderBy("repo").first()["repo"]
    batch = corpus.filter(F.col("repo") == victim).withColumn(
        "content",
        F.concat(F.col("content"), F.lit("\n\ndef probe(seq):\n    return len(seq)\n")),
    )
    meta = update_docs(spark, out, batch)
    assert meta["last_merge_affected_buckets"], "the update touched no bucket"
    _assert_one_file_per_bucket(out, "update_docs + merge")

    compact_deletes(spark, out)
    _assert_one_file_per_bucket(out, "compact_deletes")


def test_commit_job_counts(spark, layout_index, tmp_path):
    """update_docs + merge and compact_deletes on a fresh build of the
    layout corpus each stay within their measured Spark-job count."""
    corpus = layout_index["corpus"]
    out = str(tmp_path / "commits")
    build_index(spark, corpus, out, build_id="b0", n_shards=2,
                fragment_postings=64)
    n_update = _jobs_in_group(
        spark, "test_build_layout.update",
        lambda: update_docs(spark, out, _update_batch(corpus)),
    )
    n_compact = _jobs_in_group(
        spark, "test_build_layout.compact",
        lambda: compact_deletes(spark, out),
    )
    assert 0 < n_update <= MAX_UPDATE_JOBS, n_update
    assert 0 < n_compact <= MAX_COMPACT_JOBS, n_compact
