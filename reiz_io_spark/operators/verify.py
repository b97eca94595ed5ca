"""Structural post-verification: exact ReizQL semantics + match
positions in the Spark query path.

The index retrieval (wand_scores) returns a RECALL SUPERSET: every doc
containing the lowered term conjunction. The reference's answer is
stricter — the exact set of structurally matching AST nodes with their
line numbers and source segments (reiz/fetch.py:84-114 projects
lineno/col_offset and slices the file; the golden harness asserts exact
line sets, tests/runner.py:204-226). This stage closes that gap: the
pure-Python structural matcher (plans/matcher.py, the same code the
test oracle runs) executes distributed over candidate content via
mapInPandas, eliminating false positives from `not` / `None` / `~ref` /
sequence-order queries and emitting exact match line numbers.

Scale design
------------
Verification parses candidate source with ast.parse — Python-side by
necessity, so the stage is budgeted, not blanket:

- candidates are ranked FIRST (cheap, index-only), then verified in
  rank-ordered tranches of growing size (k*OVERSAMPLE, x4 each round)
  until k docs survive or candidates run out — the expected cost is
  O(k / precision) parses, independent of corpus size (the same shape
  as the reference's LIMIT/OFFSET paging, reiz/fetch.py:71-81).
- each tranche's content is fetched by an IN-list doc_id filter pushed
  into the docs parquet scan (tranche ids are a driver-side list of at
  most a few thousand), never a full docs scan.
- the candidate (doc_id, score) set is persisted once; tranche paging
  does not recompute retrieval.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

from ..plans.lower import LoweredQuery
from .score import IndexReader, _union_all, as_readers, query_stats
from .wand import wand_scores, wand_topk

OVERSAMPLE = 4  # first tranche = k * OVERSAMPLE candidate docs
MAX_TRANCHES = 8  # 4^8 * k — far beyond any real false-positive rate
# above this candidate estimate, retrieval itself is tranche-escalated
# (ranked top-N prefixes with MaxScore pruning) instead of materializing
# every conjunction-satisfying doc — a near-universal query (`Name()`)
# over 10^12 docs must never persist 10^12 candidate rows
CANDIDATE_BUDGET = 2_000_000

_POSITIONS_SCHEMA = (
    "doc_id long, lineno int, col_offset int, end_lineno int,"
    " end_col_offset int, segment string"
)


def _match_positions(query_source: str):
    """mapInPandas fn: (doc_id, content) batches -> one row per exact
    structural match with the reference's full position projection
    (lineno/col_offset/end_lineno + sliced source segment,
    reiz/fetch.py:14-29; decorated-def widening included)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ..plans.matcher import match_spans

        for pdf in batches:
            docs, lns, cols, ends, ecols, segs = [], [], [], [], [], []
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if content is None:
                    continue
                try:
                    spans = match_spans(content, query_source)
                except SyntaxError:
                    continue
                for lineno, col, end_ln, end_col, segment in spans:
                    docs.append(int(doc_id))
                    lns.append(int(lineno))
                    cols.append(int(col))
                    ends.append(int(end_ln))
                    ecols.append(int(end_col))
                    segs.append(segment)
            yield pd.DataFrame(
                {"doc_id": docs, "lineno": lns, "col_offset": cols,
                 "end_lineno": ends, "end_col_offset": ecols, "segment": segs}
            )

    return fn


def verify_candidates(
    readers: IndexReader | list[IndexReader],
    doc_ids: list[int],
    query_source: str,
) -> DataFrame:
    """(doc_id, lineno) of exact structural matches among the given
    docs, whose content is read as a union over the readers. The
    IN-list filter is pushed into each parquet scan — built as ONE
    parsed SQL expression: Column.isin creates a py4j literal
    round-trip PER element (~0.6 ms each), a linear driver cost that
    at tranche sizes (k*4^n docs) would dominate serving latency."""
    readers = as_readers(readers)
    if not doc_ids:
        return readers[0].spark.createDataFrame([], _POSITIONS_SCHEMA)
    in_list = ",".join(str(int(i)) for i in doc_ids)
    content = _union_all([
        r.content().filter(F.expr(f"doc_id IN ({in_list})")).select(
            "doc_id", "content"
        )
        for r in readers
    ])
    return content.mapInPandas(_match_positions(query_source), _POSITIONS_SCHEMA)


def _candidate_estimate(readers: list[IndexReader], query: LoweredQuery) -> int:
    """Upper bound on the conjunction's candidate count: the smallest
    group's summed df (driver-side dictionary lookup, no Spark job for
    plain terms)."""
    groups, stats = query_stats(readers, query)
    if not groups:
        return 0
    tmeta = stats["terms"]
    return min(sum(int(tmeta[t]["df"]) for t in g if t in tmeta) for g in groups)


def structural_topk(
    readers: IndexReader | list[IndexReader],
    query: LoweredQuery,
    k: int = 10,
    offset: int = 0,
    candidate_budget: int = CANDIDATE_BUDGET,
) -> DataFrame:
    """Exact top-k structurally matching docs with match line numbers.

    Returns one row per (doc, matching line): (doc_id, repo, path,
    lineno, score) — schema.RESULTS — ranked by BM25 score then doc_id,
    offset/limit applied over DOCS (reiz/fetch.py:10,71-81 semantics).

    Retrieval strategy is adaptive: selective conjunctions materialize
    the full candidate set once (persisted; tranche paging re-sorts but
    never re-scores), while hot queries whose candidate estimate
    exceeds ``candidate_budget`` escalate through ranked wand_topk
    PREFIXES — each a global exact top-N with MaxScore pruning — so no
    plan ever materializes a corpus-sized candidate list. Both routes
    return identical results (pytest-gated). Over a reader list the
    ranking is the global one (wand_scores under the summed stats) and
    content and docs are read as unions over the readers, so N shards
    answer exactly what one index over their union does."""
    readers = as_readers(readers)
    spark = readers[0].spark
    want = k + offset
    verified: dict[int, list] = {}  # doc_id -> [(lineno, col, end, segment)]
    scores: dict[int, float] = {}
    order: list[int] = []  # verified doc_ids in rank order

    def consume(rows, seen_ids: set) -> int:
        """Verify a rank-ordered tranche; returns rows consumed."""
        ids = [r["doc_id"] for r in rows if r["doc_id"] not in seen_ids]
        seen_ids.update(ids)
        if not ids:
            return 0
        scores.update({r["doc_id"]: r["score"] for r in rows})
        hits = verify_candidates(readers, ids, query.source).collect()
        by_doc: dict[int, list] = {}
        for h in hits:
            by_doc.setdefault(h["doc_id"], []).append(
                (h["lineno"], h["col_offset"], h["end_lineno"],
                 h["end_col_offset"], h["segment"])
            )
        for did in ids:  # preserve rank order within the tranche
            if did in by_doc:
                verified[did] = by_doc[did]
                order.append(did)
        return len(ids)

    est = _candidate_estimate(readers, query)
    seen: set = set()
    if est > candidate_budget:
        # hot query: exact ranked prefixes, growing; MaxScore pruning
        # applies inside each retrieval (k is finite)
        tranche = max(want * OVERSAMPLE, 16)
        for _ in range(MAX_TRANCHES):
            rows = wand_topk(readers, query, k=tranche).collect()
            consume(rows, seen)
            if len(order) >= want or len(rows) < tranche:
                break
            tranche *= 4
    else:
        cand = wand_scores(readers, query, k=None).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            ranked = cand.orderBy(F.desc("score"), F.asc("doc_id"))
            taken = 0
            tranche = max(want * OVERSAMPLE, 16)
            for _ in range(MAX_TRANCHES):
                rows = ranked.offset(taken).limit(tranche).collect()
                if not rows:
                    break
                consume(rows, seen)
                taken += len(rows)
                if len(order) >= want or len(rows) < tranche:
                    break
                tranche *= 4  # low precision -> escalate exponentially
        finally:
            cand.unpersist()
    page = order[offset : offset + k]
    out_rows = [
        (did, int(ln), int(col), int(end_ln), int(end_col), seg,
         float(scores[did]))
        for did in page
        for ln, col, end_ln, end_col, seg in sorted(verified[did])
    ]
    hits_df = spark.createDataFrame(
        out_rows,
        "doc_id long, lineno int, col_offset int, end_lineno int,"
        " end_col_offset int, segment string, score double",
    )
    from ..functions.links import github_link_col, username_col

    meta = _union_all(
        [r.docs().select("doc_id", "repo", "path", "commit") for r in readers]
    )
    return (
        F.broadcast(hits_df)
        .join(meta, "doc_id")
        .select(
            "doc_id", "repo", "path", "lineno", "col_offset",
            "end_lineno", "end_col_offset", "segment", "score",
            # reference result projection parity: inferred GitHub URL
            # with #L<start>-L<end> anchor + repo owner
            # (reiz/fetch.py:44-57,84-107)
            github_link_col(lineno="lineno", end_lineno="end_lineno").alias(
                "github_link"
            ),
            username_col().alias("username"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"), F.asc("lineno"),
                 F.asc("col_offset"))
    )
