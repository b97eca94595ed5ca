"""Physical-plan audits: the plans we designed for are the plans Catalyst
actually picks (SURVEY.md §4.3). Guards against silent regressions into
full scans / shuffle joins."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from reiz_io_spark.operators.score import IndexReader, attach_doc_metadata, naive_bm25_topk
from reiz_io_spark.operators.wand import wand_topk
from reiz_io_spark.plans.lower import lower_query


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_blocks_scan_is_partition_pruned(spark, built_index):
    """WAND must touch only the query terms' term_bucket partitions."""
    reader = IndexReader(spark, built_index[0])
    q = lower_query("t", "Call(Name('len'))")
    plan = _plan(wand_topk(reader, q, k=5))
    assert "PartitionFilters" in plan
    # the bucket IN-list must appear in partition filters, i.e. pruning
    # is static (computed driver-side via pure-python xxh64), not a scan
    assert "term_bucket" in plan.split("PartitionFilters", 1)[1][:400]


def _exploded_term_filter(plan: str) -> str | None:
    """Condition of the Filter on the runs view's exploded ``term``
    column (a node above the Generate), or None when the plan has none."""
    nodes = re.findall(r"^\((\d+)\) (\w+)[^\n]*\n((?:.+\n?)*)", plan, re.M)
    gen = next(((int(i), body) for i, name, body in nodes if name == "Generate"), None)
    if gen is None:
        return None
    term = re.search(r"\[(term#\d+), tf#\d+L?\]", gen[1]).group(1)
    for i, name, body in nodes:
        cond = re.search(r"^Condition : (.*)$", body, re.M)
        if name == "Filter" and int(i) > gen[0] and cond and (
            cond.group(1).startswith(f"{term} IN (")
        ):
            return cond.group(1)
    return None


def test_runs_scan_pushes_term_filter(spark, built_index):
    """Naive path: the term IN (...) predicate reaches the parquet scan."""
    reader = IndexReader(spark, built_index[0])
    q = lower_query("t", "Call(Name('len'))")
    plan = _plan(naive_bm25_topk(reader, q, k=5))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:500]
    assert "term" in pushed and "In" in pushed
    # the runs view explodes the docs' tf map: the term IN-list filters
    # the exploded rows right above the Generate
    cond = _exploded_term_filter(plan)
    assert cond is not None and "id:len" in cond, plan
    assert _exploded_term_filter(_plan(reader.runs())) is None


def test_metadata_join_is_broadcast(spark, built_index):
    """top-k ⋈ docs must be a broadcast hash join, never sort-merge."""
    reader = IndexReader(spark, built_index[0])
    q = lower_query("t", "Call(Name('len'))")
    plan = _plan(attach_doc_metadata(reader, wand_topk(reader, q, k=5)))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_is_take_ordered(spark, built_index):
    """Global top-k must compile to TakeOrderedAndProject (no full sort)."""
    reader = IndexReader(spark, built_index[0])
    q = lower_query("t", "Call(Name('len'))")
    plan = _plan(wand_topk(reader, q, k=5))
    assert "TakeOrderedAndProject" in plan


def test_docs_scan_prunes_terms_column(spark, built_index):
    """Metadata readers must not pay for the per-doc tf map column."""
    reader = IndexReader(spark, built_index[0])
    df = reader.docs().select("doc_id", "repo", "path")
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "terms" not in read_schema


def test_fulltext_bm25_wholestage_codegen(spark):
    """The documents-table BM25 path is pure built-ins: whole-stage
    codegen must cover it (no BatchEvalPython in the plan)."""
    from reiz_io_spark.operators import fulltext

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(fulltext.bm25_topk(docs, ["hash", "join"], 5, True))
    # AQE shows isFinalPlan=false pre-execution (no codegen spans yet);
    # the load-bearing assertion is that NO Python evaluation node exists
    # anywhere in the plan — the path stays fully JVM-side.
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_verify_content_scan_pushes_docid_inlist(spark, built_index):
    """The structural-verify stage fetches candidate content via an
    IN-list filter pushed into the docs parquet scan (never a full
    docs-table read)."""
    from reiz_io_spark.operators.verify import verify_candidates

    reader = IndexReader(spark, built_index[0])
    some_ids = [r["doc_id"] for r in reader.docs().limit(5).collect()]
    plan = _plan(verify_candidates(reader, some_ids, "Name()"))
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:500]
    assert "doc_id" in pushed and "In" in pushed
    # column pruning: only (doc_id, content) are read
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "content" in read_schema and "terms" not in read_schema


def test_docs_scan_prunes_content_column(spark, built_index):
    """Nothing except the verify stage pays for the stored source text."""
    reader = IndexReader(spark, built_index[0])
    q = lower_query("t", "Call(Name('len'))")
    plan = _plan(attach_doc_metadata(reader, wand_topk(reader, q, k=5)))
    read_schemas = [s[:300] for s in plan.split("ReadSchema")[1:]]
    assert all("content:" not in s for s in read_schemas), read_schemas


def test_asof_join_single_exchange(spark):
    """The as-of join must be ONE shuffle on the key (union + window),
    never a join operator (a range/theta join would be O(L x R))."""
    import os

    from reiz_io_spark.operators.asof import asof_join_backward

    e = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    left = e.filter(F.col("event_type") == "purchase")
    right = e.filter(F.col("event_type") == "click")
    df = asof_join_backward(
        left, right, key="user_id", ts="ts", id_col="event_id",
        right_payload=["value"],
    )
    plan = _plan(df)
    assert "Join" not in plan  # no join operator of any kind
    # exactly one data exchange in the tree: the hashpartitioning on
    # user_id for the window sort
    assert plan.count("Exchange (") == 1, plan[:2000]
    assert "user_id" in plan.split("(8) Exchange", 1)[-1][:400] or \
           "user_id" in plan  # partition key is the join key


def test_phrase_filters_before_shuffle(spark):
    """Phrase evaluation is MAP-ONLY up to per-doc position arrays (r8
    shape): no posexplode of the corpus, no doc_id groupBy — the only
    Exchange allowed is the scale-adaptive parallelism spread, and the
    per-slot position arrays are built by array lambdas referencing the
    phrase terms directly."""
    from reiz_io_spark.operators.phrase import phrase_match

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(phrase_match(docs, ["table", "hash"]))
    # at most one Exchange (the round-robin parallelism spread; a
    # multi-file corpus would have none) and NO aggregate anywhere:
    # positions never leave their doc's row
    assert plan.count("Exchange (") <= 1, plan[:2000]
    assert "posexplode" not in plan and "Generate" not in plan, plan[:2000]
    assert "Aggregate" not in plan and "Join" not in plan, plan[:2000]
    # the slot filters reference the phrase terms as literals
    assert "table" in plan and "hash" in plan


def test_phrase_fallback_filters_before_shuffle(spark):
    """A phrase with a term that is not a possible token ("hash-x")
    takes the position-array fallback instead of the one-regex count.
    It stays map-only: per-slot position arrays built by array lambdas
    over one token split, the every-slot-present Filter BELOW the one
    round-robin parallelism spread (docs that cannot match never cross
    it), the continuation tested by array_contains, and no explode,
    aggregate or join."""
    from reiz_io_spark.operators.phrase import phrase_match

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(phrase_match(docs, ["slow", "hash-x"]))
    tree = plan.split("\n\n")[0]  # the operator tree, above the details
    assert "regexp_count" not in plan, plan[:2000]
    assert plan.count("Exchange (") <= 1, tree
    if "Exchange (" in tree:
        assert "RoundRobinPartitioning" in plan, plan[:2000]
        assert tree.index("Filter (") > tree.index("Exchange ("), tree
    assert "Filter (" in tree and tree.count("Scan parquet") == 1, tree
    assert "posexplode" not in plan and "Generate" not in plan, plan[:2000]
    assert "Aggregate" not in plan and "Join" not in plan, plan[:2000]
    # slot filters compare tokens with the phrase terms as literals
    assert ".tok = slow)" in plan and ".tok = hash-x)" in plan, plan[:2000]
    assert "array_contains(" in plan, plan[:2000]


def test_chunk_dedup_hashes_before_shuffle(spark):
    """Chunk dedup's single shuffle must carry md5 hashes, never chunk
    text: the Project computing md5 sits BELOW the Exchange, so at
    100 TB the wire carries 32-byte digests instead of w-token
    strings."""
    from reiz_io_spark.operators.dedup import chunk_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = chunk_dedup(docs, w=12)._jdf.queryExecution().executedPlan().toString()
    # countDistinct lowers to Spark's canonical two-stage distinct:
    # exactly two exchanges, BOTH keyed on the md5 digest (with partial
    # aggregation below each — wire rows are pre-combined digests)
    assert plan.count("Exchange hashpartitioning(chunk_md5") == 2, plan[:2500]
    assert plan.count("Exchange") == 2, plan[:2500]
    # the md5 happens inside the explode's transform, BELOW the first
    # exchange: no raw chunk text ever reaches a shuffle
    first_exch = plan.rfind("Exchange")  # lowest exchange in the tree
    gen = plan.find("Generate")
    assert gen > first_exch > 0, plan[:2500]
    assert "md5" in plan[gen:], plan[gen:gen + 500]


def test_two_level_topk_window_shape(spark):
    """brute-force ANN and grouped BM25 must carry the two-level
    window shape: the FIRST (lower) window partitions by the bucket as
    well as the group, so no corpus-sized score set ever funnels
    through one reducer per group."""
    from reiz_io_spark.operators import fulltext, similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = (
        similarity.brute_force_topk(emb, [0, 1], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Window") >= 2, plan[:2000]
    # the lowest Window in the tree is the LOCAL one — keyed on bucket
    last_win = plan[plan.rfind("Window"):]
    assert "_tk_bucket" in last_win[:400], last_win[:400]

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan2 = (
        fulltext.bm25_topk_by_group(docs, ["spark", "stream"], "lang", 3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan2.count("Window") >= 2, plan2[:2000]
    last_win2 = plan2[plan2.rfind("Window"):]
    assert "_tk_bucket" in last_win2[:400], last_win2[:400]


def test_ann_refine_join_broadcasts_candidates(spark, tmp_path):
    """The exact-cosine refine must probe the (at scale, 10^9-row)
    embeddings table with a BROADCAST of the tiny candidate set —
    explicitly pinned, not left to AQE: the embeddings side must never
    shuffle under the refine. Asserted for flat PQ, IVF-PQ, and the
    persistent index search."""
    from reiz_io_spark.operators import ann_index, pq

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plans = [
        pq.pq_topk(emb, [0, 1], k=5)
        ._jdf.queryExecution().executedPlan().toString(),
        pq.ivf_pq_topk(emb, [0, 1], k=5)
        ._jdf.queryExecution().executedPlan().toString(),
    ]
    d = str(tmp_path / "ann")
    ann_index.build_ann_index(emb, d, m=4, n_codes=16, n_lists=8, seed=7)
    plans.append(
        ann_index.ann_index_search(spark, d, emb, [0, 1], k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for plan in plans:
        assert "BroadcastHashJoin" in plan, plan[:2500]
        # the refine's equi-join on vec_id is broadcast — no
        # SortMergeJoin / shuffled hash join over the embeddings scan
        assert "SortMergeJoin [vec_id" not in plan, plan[:2500]
        assert "ShuffledHashJoin [vec_id" not in plan, plan[:2500]
