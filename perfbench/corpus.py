"""Seeded corpus and the oracle the benchmark checks results against.

The corpus is the 27 golden fixture files (one per reference query, so
every reference query has a non-empty, oracle-checked answer) plus
``synth_corpus_distributed(seed)`` filler. The engine receives only the
generated rows.

The oracle is the repository's exhaustive single-node BM25
(``reiz_io_spark.oracle``) over documents keyed by the engine's doc id,
computed independently of Spark (``functions.hashing.doc_id_of``).
Tokenization is spread over at most ``nproc`` spawned processes.
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import re
from collections import Counter

import pandas as pd

_IDENT = re.compile(r"\bident_\d{4}\b")


def golden_rows(seed: int) -> list[tuple[str, str, str, str, str]]:
    from reiz_io_spark.sources.corpus import GOLDEN_FILES, GOLDEN_REPO

    rows = []
    for path, content in sorted(GOLDEN_FILES.items()):
        commit = hashlib.sha1(f"{seed}:{path}".encode()).hexdigest()
        rows.append((GOLDEN_REPO, "dataset/" + path, commit, "python", content))
    return rows


def generate(spark, seed: int, n_filler: int, cores: int) -> pd.DataFrame:
    """Golden files + seeded filler as a pandas frame in (repo, path)
    order. The filler comes from the engine's executor-side generator,
    so the same (seed, n_filler) gives the same rows at any
    parallelism."""
    from reiz_io_spark.sources.corpus import synth_corpus_distributed

    filler = synth_corpus_distributed(
        spark, n_filler, seed=seed, n_partitions=cores
    ).toPandas()
    gold = pd.DataFrame(golden_rows(seed), columns=list(filler.columns))
    pdf = pd.concat([gold, filler], ignore_index=True)
    return pdf.sort_values(["repo", "path"], kind="stable").reset_index(drop=True)


def content_sha256(pdf: pd.DataFrame) -> str:
    """sha256 over the content column in (repo, path) order."""
    h = hashlib.sha256()
    for c in pdf["content"]:
        data = c.encode()
        h.update(len(data).to_bytes(8, "little"))
        h.update(data)
    return h.hexdigest()


def typical_prefixes(pdf: pd.DataFrame, digits: int, count: int) -> list[str]:
    """The ``count`` prefixes ``ident_`` + ``digits`` digits whose
    occurrence counts in the corpus are closest to the median prefix's,
    so a prefix query costs about the same whatever the seed."""
    freq: Counter[str] = Counter()
    for c in pdf["content"]:
        freq.update(m[: len("ident_") + digits] for m in _IDENT.findall(c))
    if not freq:
        return []
    mid = sorted(freq.values())[len(freq) // 2]
    return sorted(freq, key=lambda p: (abs(freq[p] - mid), p))[:count]


# ------------------------------------------------------------------ oracle


def _tokenize_chunk(items: list[tuple[int, str]]) -> list[tuple[int, dict, bool]]:
    from reiz_io_spark.functions.tokenizer import tokenize_source

    out = []
    for doc_id, content in items:
        bag, ok = tokenize_source(content)
        out.append((doc_id, dict(bag), ok))
    return out


def doc_ids(pdf: pd.DataFrame, versioned: bool = False) -> list[int]:
    """The engine's doc id for each row: ``xxhash64(repo, path)``, or
    ``xxhash64(repo, path, sha256(content))`` for an updated version."""
    from reiz_io_spark.functions.hashing import doc_id_of, spark_xxhash64

    if not versioned:
        return [doc_id_of(r, p) for r, p in zip(pdf["repo"], pdf["path"])]
    return [
        spark_xxhash64(r, p, hashlib.sha256(c.encode()).hexdigest())
        for r, p, c in zip(pdf["repo"], pdf["path"], pdf["content"])
    ]


def build_oracle(docs: list[tuple[int, str]], processes: int):
    """``reiz_io_spark.oracle.OracleIndex`` over (doc_id, content), with
    tokenization spread over ``processes`` spawned workers."""
    from reiz_io_spark.oracle import OracleIndex

    n = max(1, processes)
    chunks = [docs[i::n] for i in range(n)]
    if n == 1:
        parts = [_tokenize_chunk(chunks[0])]
    else:
        ctx = multiprocessing.get_context("spawn")
        with ctx.Pool(n) as pool:
            parts = pool.map(_tokenize_chunk, chunks)
    postings: dict[str, dict[int, int]] = {}
    doclen: dict[int, int] = {}
    total = 0
    for doc_id, bag, ok in (x for part in parts for x in part):
        if not ok:
            continue
        dl = int(sum(bag.values()))
        doclen[doc_id] = dl
        total += dl
        for term, tf in bag.items():
            postings.setdefault(term, {})[doc_id] = int(tf)
    return OracleIndex(postings=postings, doclen=doclen, n_docs=len(doclen), total_dl=total)


def oracle_answers(oracle, queries: dict, k: int) -> dict[str, list[tuple[int, float]]]:
    from reiz_io_spark.oracle import oracle_topk

    return {name: oracle_topk(oracle, q, k=k) for name, q in queries.items()}


def same_ranking(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Doc-id order equal and every score within 1e-12."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return False
    return all(abs(g - w) <= 1e-12 for (_, g), (_, w) in zip(got, want))


def work_processes() -> int:
    return max(1, min(4, os.cpu_count() or 1))
