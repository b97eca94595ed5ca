"""Index-build invariants (SURVEY.md §5.2 item 2)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from reiz_io_spark.functions import codec
from reiz_io_spark.operators.build import read_runs


def _vdir(out, table):
    """Resolve the committed versioned dir of dictionary/blocks via meta."""
    import json as _json
    import os as _os

    from reiz_io_spark.operators.build import table_dir

    with open(_os.path.join(out, "meta.json")) as fh:
        return table_dir(out, _json.load(fh), table)



def test_sha256_invariant(spark, small_corpus, built_index):
    """Per-row content sha256 equality vs the source table (input_hint)."""
    out, _ = built_index
    docs = spark.read.parquet(out + "/docs")
    src = small_corpus.filter(F.col("lang") == "python").select(
        "repo", "path", F.sha2("content", 256).alias("expected_sha")
    )
    joined = docs.join(src, ["repo", "path"])
    assert joined.count() == docs.count()
    assert joined.filter(F.col("content_sha256") != F.col("expected_sha")).count() == 0


def test_doc_id_unique_and_deterministic(spark, built_index):
    out, _ = built_index
    docs = spark.read.parquet(out + "/docs")
    n = docs.count()
    assert docs.select("doc_id").distinct().count() == n
    # deterministic: recompute hash from the metadata columns
    recomputed = docs.withColumn("h2", F.xxhash64("repo", "path"))
    assert recomputed.filter(F.col("h2") != F.col("doc_id")).count() == 0


def test_postings_sum_tf_equals_doclen(spark, built_index):
    out, _ = built_index
    runs = read_runs(spark, out)
    docs = spark.read.parquet(out + "/docs").filter(F.col("parse_ok"))
    per_doc = runs.groupBy("doc_id").agg(F.sum("tf").alias("s"))
    j = docs.join(per_doc, "doc_id", "left").na.fill({"s": 0})
    assert j.filter(F.col("s") != F.col("doclen")).count() == 0


def test_dictionary_df_matches_countDistinct(spark, built_index):
    out, _ = built_index
    runs = read_runs(spark, out)
    d = spark.read.parquet(_vdir(out, "dictionary"))
    truth = runs.groupBy("term").agg(F.countDistinct("doc_id").alias("df2"))
    j = d.join(truth, "term")
    assert j.count() == d.count()
    assert j.filter(F.col("df") != F.col("df2")).count() == 0


def test_blocks_roundtrip_to_postings(spark, built_index):
    """decode(encode(postings)) == postings, term by term."""
    from reiz_io_spark.functions.hashing import spark_xxhash64

    out, _ = built_index
    runs = read_runs(spark, out)
    blocks = spark.read.parquet(_vdir(out, "blocks"))
    expected = {
        (spark_xxhash64(r["term"]), r["doc_id"]): (r["tf"], r["dl"])
        for r in runs.collect()
    }
    got = {}
    for row in blocks.collect():
        d, t, l = codec.decode_block(row)
        for i in range(len(d)):
            key = (row["term_id"], int(d[i]))
            assert key not in got, f"duplicate posting {key}"
            got[key] = (int(t[i]), int(l[i]))
    assert got == expected


def test_block_sizes_and_metadata(spark, built_index):
    out, meta = built_index
    blocks = spark.read.parquet(_vdir(out, "blocks"))
    bad = blocks.filter(
        (F.col("n_docs") <= 0)
        | (F.col("n_docs") > meta["block_size"])
        | (F.col("first_doc_id") > F.col("last_doc_id"))
    )
    assert bad.count() == 0


def test_salting_fans_out_hot_terms(spark, built_index):
    """Hot terms (df > fragment target 64) must appear in >1 fragment:
    verified via multiple blocks with overlapping doc ranges."""
    out, _ = built_index
    d = spark.read.parquet(_vdir(out, "dictionary"))
    hot = [r["term_id"] for r in d.filter(F.col("df") > 130).limit(3).collect()]
    if not hot:  # corpus too small to exercise — keep the test honest
        return
    blocks = spark.read.parquet(_vdir(out, "blocks"))
    for tid in hot:
        n_blocks = blocks.filter(F.col("term_id") == tid).count()
        assert n_blocks >= 2


def test_lineage_complete(spark, built_index):
    out, meta = built_index
    lin = spark.read.parquet(out + "/lineage")
    done = lin.filter(F.col("status") == "done")
    shards = {r["shard"] for r in done.select("shard").collect()}
    docs_shards = {
        r["shard"]
        for r in spark.read.parquet(out + "/docs").select("shard").distinct().collect()
    }
    assert docs_shards <= shards
    total = done.agg(F.sum("n_files")).collect()[0][0]
    assert total == spark.read.parquet(out + "/docs").count()


def test_encode_rejects_values_beyond_int32(spark):
    """tf/dl are narrowed to int32 for the encode exchange: a value
    that does not fit must fail the build, not wrap into corrupt
    blocks — with ANSI casts off too, where a plain cast wraps."""
    from reiz_io_spark.operators.build import _encode_postings

    postings = spark.createDataFrame(
        [(7, 11, 1, 2**31)], "term_id long, doc_id long, tf long, dl long"
    )
    hot = spark.createDataFrame([], "term_id long, n_frag int")
    key = "spark.sql.ansi.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        with pytest.raises(Exception, match="does not fit the int32"):
            _encode_postings(postings, hot, 128).collect()
    finally:
        spark.conf.set(key, old)


def test_term_id_collision_fails_build_and_merge(spark, monkeypatch, tmp_path):
    """Forced term-id collisions (a 3-valued term-id hash) fail the
    dictionary write of a full build and of an incremental merge, and
    neither commits: meta.json stays absent or unchanged."""
    import os

    from reiz_io_spark.operators import build
    from reiz_io_spark.sources.corpus import synth_corpus

    def degenerate_term_id():
        return F.pmod(F.xxhash64("term"), F.lit(3))

    corpus = synth_corpus(spark, n_filler=10, seed=3)
    half = F.pmod(F.xxhash64("path"), F.lit(2))

    fresh = str(tmp_path / "fresh")
    with monkeypatch.context() as m:
        m.setattr(build, "_term_id", degenerate_term_id)
        with pytest.raises(RuntimeError, match="term_id collision"):
            build.build_index(spark, corpus, fresh, build_id="c", n_shards=2)
    assert not os.path.exists(os.path.join(fresh, "meta.json"))

    inc = str(tmp_path / "inc")
    build.build_index(spark, corpus.filter(half == 0), inc, build_id="c0", n_shards=2)
    meta_path = os.path.join(inc, "meta.json")
    with open(meta_path) as fh:
        committed = fh.read()
    build.stage1_ingest(spark, corpus.filter(half == 1), inc, build_id="c1", n_shards=2)
    with monkeypatch.context() as m:
        m.setattr(build, "_term_id", degenerate_term_id)
        with pytest.raises(RuntimeError, match="term_id collision"):
            build.merge_incremental(spark, inc)
    with open(meta_path) as fh:
        assert fh.read() == committed
