"""Fragment-grained incremental merge/compaction: an update touching
one doc must re-encode ONLY the touched fragments of affected hot
terms, never their whole posting lists (build._merge_term_delta, the
one term-delta merge behind merge_incremental's ADDED delta and
compact_deletes' REMOVED delta).

Content equality with full rebuilds is already gated by
test_incremental/test_deletes/test_updates; this module pins the
OPTIMIZATION — block rows of untouched fragments survive bit-for-bit,
and the only rows that change carry the touched fragment's salt.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from reiz_io_spark.functions.hashing import spark_xxhash64
from reiz_io_spark.operators.build import build_index
from reiz_io_spark.operators.deletes import compact_deletes
from reiz_io_spark.operators.score import IndexReader
from reiz_io_spark.operators.updates import update_docs
from reiz_io_spark.sources.corpus import synth_corpus

FP = 16  # tiny fragment target so common terms fragment at test scale


def _pmod(h: int, n: int) -> int:
    return ((h % n) + n) % n


def _term_blocks(spark, index_dir, term_id):
    r = IndexReader(spark, index_dir)
    rows = r.blocks().filter(F.col("term_id") == term_id).collect()
    return {
        (
            row["block_no"], row["first_doc_id"], row["last_doc_id"],
            row["n_docs"], row["max_tf"], row["min_dl"],
            bytes(row["doc_deltas"]), bytes(row["tfs"]), bytes(row["dls"]),
        )
        for row in rows
    }


@pytest.fixture(scope="module")
def frag_ix(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("frag_ix"))
    corpus = synth_corpus(spark, n_filler=60, seed=42).cache()
    build_index(spark, corpus, out, build_id="b0", n_shards=2,
                fragment_postings=FP)
    reader = IndexReader(spark, out)
    # the most-fragmented term (largest df) — guaranteed multi-fragment
    hot = (
        reader.dictionary().orderBy(F.desc("df"), F.asc("term"))
        .select("term", "term_id", "df").limit(1).collect()[0]
    )
    assert int(hot["df"]) > 2 * FP, "test corpus too small to fragment"
    return {"dir": out, "corpus": corpus, "hot": hot}


def test_update_reencodes_only_touched_fragments(spark, frag_ix):
    out, hot = frag_ix["dir"], frag_ix["hot"]
    term_id, df_old = int(hot["term_id"]), int(hot["df"])
    before = _term_blocks(spark, out, term_id)

    # update ONE file; the victim certainly contains the hottest term
    victim = frag_ix["corpus"].orderBy("repo", "path").limit(1)
    row = victim.collect()[0]
    suffix = "\n\ndef frag_probe(x):\n    return len(x)\n"
    update_docs(
        spark, out,
        victim.withColumn("content", F.concat(F.col("content"), F.lit(suffix))),
    )

    # fragment count must be unchanged for the partial path to engage
    df_new = df_old + 1  # one new doc version adds one posting
    n_frag = max(1, math.ceil(df_old / FP))
    assert n_frag == max(1, math.ceil(df_new / FP)), "boundary crossed; repick sizes"

    import hashlib

    sha = hashlib.sha256(
        (row["content"] + suffix).encode("utf-8")
    ).hexdigest()
    new_doc_id = spark_xxhash64(row["repo"], row["path"], sha)
    touched_salt = _pmod(spark_xxhash64(new_doc_id), n_frag)

    after = _term_blocks(spark, out, term_id)
    gone, born = before - after, after - before
    assert born, "the touched fragment must have been re-encoded"
    for blk in gone | born:
        assert _pmod(spark_xxhash64(int(blk[1])), n_frag) == touched_salt, (
            "a block outside the touched fragment was re-encoded"
        )
    # and the untouched majority survived bit-for-bit
    assert len(before & after) >= len(before) - len(gone)
    assert len(gone) < len(before), "whole posting list was re-encoded"

    # ---- compaction folds the OLD version: again fragment-grained ----
    old_doc_id = spark_xxhash64(row["repo"], row["path"])
    fold_salt = _pmod(spark_xxhash64(old_doc_id), n_frag)
    pre_compact = _term_blocks(spark, out, term_id)
    compact_deletes(spark, out)
    post = _term_blocks(spark, out, term_id)
    for blk in (pre_compact - post) | (post - pre_compact):
        assert _pmod(spark_xxhash64(int(blk[1])), n_frag) == fold_salt, (
            "compaction re-encoded a fragment that lost no postings"
        )
    assert len(pre_compact - post) < len(pre_compact)
