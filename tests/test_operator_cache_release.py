"""Operators that persist an intermediate release it before returning.

bm25_topk, phrase_topk and ngram_jaccard_pairs each cache a relation
that several consumers share. Each materializes its result inside the
call and unpersists the cache in a ``finally``, so running one leaves
the SparkContext's persistent-RDD set as it found it."""

from __future__ import annotations

import os

import pytest

from reiz_io_spark.operators import dedup, fulltext, phrase

SF_DIR = "/root/testdata/sf0.001"

OPERATORS = {
    "bm25_topk": lambda d: fulltext.bm25_topk(d, ["batch", "hash", "join"], k=10),
    "phrase_topk_regex": lambda d: phrase.phrase_topk(d, ["slow", "hash", "batch"], k=10),
    "phrase_topk_positions": lambda d: phrase.phrase_topk(d, ["slow", "hash-x"], k=10),
    "ngram_jaccard_pairs": lambda d: dedup.ngram_jaccard_pairs(d, n=3, threshold=0.5),
}


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_no_persisted_rdd(spark, docs, name):
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    result = OPERATORS[name](docs)
    result.collect()
    assert jsc.getPersistentRDDs().size() == before
