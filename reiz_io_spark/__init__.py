"""reiz_io_spark — a PySpark-native inverted-index + BM25 code-search engine.

A from-scratch rebuild of the query/data-processing capabilities of
reizio/reiz.io (reference at /root/reference, read-only) on idiomatic
Spark: the reference's EdgeDB object-graph ingest + ReizQL matchers are
re-expressed as a columnar index build (tokenize -> postings -> merge ->
delta/varint blocks with block-max metadata) and block-max-WAND top-k
BM25 retrieval over term conjunctions.

Layout
------
- ``sources/``    corpus readers + deterministic synthetic corpus
- ``functions/``  tokenizers (AST + text), posting-list codec, hashing
- ``operators/``  index build + incremental merge, block encode, BM25
                  (naive + WAND/MaxScore + batched), structural verify
                  (exact semantics + match positions), dedup, similarity
                  (brute/LSH/IVF), textstats, multimodal plumbing
- ``plans/``      ReizQL lowering to term conjunctions; the 27-query set;
                  pure-Python structural matcher (shared by the verify
                  stage and the test oracle)
- ``streaming/``  incremental index maintenance (foreachBatch + lineage)
                  and stateful sessionization (applyInPandasWithState)
- ``serve.py``    warm query service over one index or a list of shard
                  snapshots (driver-cached postings, global stats summed
                  over shards, df-gated distributed fallback); ``web.py``
                  HTTP front-end
- ``oracle.py``   single-node golden BM25 implementation (rank-identity)
"""

__version__ = "0.1.0"

BM25_K1 = 1.2
BM25_B = 0.75
BLOCK_SIZE = 128
