"""Explicit StructTypes for every table the engine reads or writes.

The reference's schema is fixed, machine-generated from an ASDL grammar
(/root/reference/static/Python-reiz.asdl, compiled by
reiz/schema/builders/esdl.py:210-237). Ours is fixed too — no schema
inference anywhere; every scan and sink names its StructType here so
Catalyst can prune columns and push filters against a known shape.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# Source corpus (BASELINE.json input_hint): one row per source file.
# repo ≈ project.name (reference reiz/sampling/data.py:8-14),
# path ≈ Module.filename — unique with repo (static/Python-reiz.asdl:2),
# commit ≈ git_revision (reiz/sampling/fetch_dataset.py:36-39).
CORPUS = StructType(
    [
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("content", StringType(), True),
    ]
)

# Tokenizer output: per-document term frequencies, aggregated map-side
# inside the pandas UDF (zero shuffle for tf). parse_ok=False mirrors the
# reference's Insertion.SKIPPED for files failing ast.parse
# (reiz/serialization/statistics.py:7-12, sanitize_dataset.py:15-25).
TOKENIZED = StructType(
    [
        StructField("terms", MapType(StringType(), LongType()), True),
        StructField("n_terms", LongType(), True),
        StructField("parse_ok", BooleanType(), False),
    ]
)

# Document stats + identity. doc_id = xxhash64(repo, path) — deterministic
# under retries (no row_number over unordered data). content_sha256 is the
# per-row invariant vs. the source table. On disk docs also carries the
# per-doc tf map (DOCS_ON_DISK.terms); the posting runs (batch, shard,
# term, doc_id, tf, dl) are a view over it (build.read_runs), never a
# stored table. The raw source itself lives in
# the separate CONTENT table (below), NOT here: docs is the metadata/
# forward-index table every query touches, content is read only by the
# structural-verify stage and result rendering — keeping them in separate
# files means the docs scan volume never includes corpus text (r02 put
# content in docs and index-build throughput regressed 12%).
DOCS = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("content_sha256", StringType(), False),
        StructField("doclen", LongType(), False),
        StructField("parse_ok", BooleanType(), False),
    ]
)

# Raw-source side table — the staging table of stage-1 ingest and the
# ONLY place corpus text is stored. Read by the structural-verify stage
# (reiz/fetch.py slices the stored source for result segments,
# fetch.py:84-114) and QueryService._fetch_content; carries the doc
# identity columns so stage-1 can tokenize from its read-back without a
# join. Partitioned (batch, shard) like docs for the same resume
# semantics.
CONTENT = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), True),
        StructField("content_sha256", StringType(), False),
        StructField("content", StringType(), True),
    ]
)

# Term dictionary with collection stats. idf / max_score are NOT stored:
# both are pure functions of (n_docs, df, k1) and are derived driver-side
# per query (IndexReader.term_meta) so the dictionary never goes stale as
# the corpus grows. term_bucket is a hive partition column on disk.
DICTIONARY = StructType(
    [
        StructField("term", StringType(), False),
        StructField("df", LongType(), False),
        StructField("cf", LongType(), False),
        StructField("term_id", LongType(), False),
    ]
)

# Compressed index blocks: sorted (doc_id, tf) runs per term, chunked into
# <= BLOCK_SIZE entries, delta+varint encoded, with per-block max-score
# metadata for block-max WAND. first/last doc_id enable block skipping.
# Terms are carried as term_id = xxhash64(term) (8 bytes) so the big
# shuffle never ships strings; the dictionary maps term <-> term_id
# (collisions are astronomically unlikely below ~10^9 terms; every
# dictionary write checks one term per term_id and fails the build
# otherwise — see build._write_dictionary).
# (max_tf, min_dl) is the block-max bound corner: BM25 tf-normalization
# is monotone ↑ tf / ↓ dl, so codec.block_bound(max_tf, min_dl, idf,
# avgdl) dominates every posting in the block. idf/avgdl are applied at
# QUERY time, so the stored metadata never goes stale under incremental
# merges — bounds only gate skipping, exact scores are always
# recomputed from decoded (tf, dl).
BLOCKS = StructType(
    [
        StructField("term_id", LongType(), False),
        StructField("block_no", IntegerType(), False),
        StructField("first_doc_id", LongType(), False),
        StructField("last_doc_id", LongType(), False),
        StructField("n_docs", IntegerType(), False),
        StructField("max_tf", LongType(), False),
        StructField("min_dl", LongType(), False),
        StructField("doc_deltas", BinaryType(), False),
        StructField("tfs", BinaryType(), False),
        StructField("dls", BinaryType(), False),
    ]
)

# Per-partition lineage for checkpoint-resume (the analog of the
# reference's DB-backed ingest cache, reiz/serialization/cache.py:8-25):
# a shard is done iff its lineage row says so; resume anti-joins.
LINEAGE = StructType(
    [
        StructField("build_id", StringType(), False),
        StructField("shard", IntegerType(), False),
        StructField("status", StringType(), False),
        StructField("n_files", LongType(), False),
        StructField("n_parse_failed", LongType(), False),
        StructField("n_terms", LongType(), False),
        StructField("content_sha_xor", StringType(), False),
        StructField("wall_ms", LongType(), False),
    ]
)

# Query results with exact match positions (the reference's fixed
# projection incl. lineno, reiz/fetch.py:14-29) — the schema returned by
# operators/verify.structural_topk.
RESULTS = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("lineno", IntegerType(), False),
        StructField("col_offset", IntegerType(), False),
        StructField("end_lineno", IntegerType(), False),
        StructField("segment", StringType(), False),
        StructField("score", DoubleType(), False),
    ]
)

# Encoder output: BLOCKS plus the write-partitioning column (kept out of
# BLOCKS because readers see term_bucket as a hive partition column).
BLOCKS_WITH_BUCKET = StructType(
    list(BLOCKS.fields) + [StructField("term_bucket", IntegerType(), False)]
)

# On-disk shapes INCLUDING hive partition columns — passed as explicit
# read schemas so scans never run parquet footer inference (a job that
# touches file footers; at 10^12 run files it is real work, and it
# breaks partition-pruning isolation guarantees).
DOCS_ON_DISK = StructType(
    list(DOCS.fields)
    + [
        StructField("terms", MapType(StringType(), LongType()), True),
        StructField("batch", StringType(), False),
        StructField("shard", IntegerType(), False),
    ]
)
CONTENT_ON_DISK = StructType(
    list(CONTENT.fields)
    + [StructField("batch", StringType(), False), StructField("shard", IntegerType(), False)]
)
DICTIONARY_ON_DISK = StructType(
    list(DICTIONARY.fields) + [StructField("term_bucket", IntegerType(), False)]
)
BLOCKS_ON_DISK = BLOCKS_WITH_BUCKET

TERMS_ARRAY = ArrayType(StringType())
