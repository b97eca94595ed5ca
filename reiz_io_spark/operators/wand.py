"""Block-max WAND / MaxScore top-k over the compressed block index.

The production query path (SURVEY.md §7.1 step 7): reads only the
query terms' blocks (term_bucket partition pruning + term predicate
pushdown on the parquet scan), co-locates blocks by doc-range bucket,
intersects/scores inside a vectorized UDF, and finishes with Spark's
TakeOrderedAndProject for the global k.

Distribution strategy
---------------------
doc_ids are xxhash64 outputs, uniform over int64, so the doc space is
range-bucketed with an arithmetic shift: qb = doc_id >> SHIFT gives
2^(64-SHIFT) ordered, evenly loaded buckets — integer-exact in both
Spark (F.shiftright) and NumPy, no float wobble at bucket edges. A block
spanning several buckets is exploded to each (rare-term blocks span wide
ranges; at real corpus sizes a 128-posting block covers a sliver of the
space, so the fan-out shrinks as the corpus grows — the design gets
CHEAPER at scale). Each bucket's UDF call runs the scoring kernel
(score_bucket_kernel, importable and unit-tested with skip stats):

- multi-group (CNF conjunction): groups sorted by estimated selectivity
  (min df); the rarest group's docs seed the candidates; other terms
  decode only blocks overlapping the candidate span AND containing at
  least one candidate (block skip via first/last doc_id metadata).
- single wide OR-group (e.g. a LIKE marker expanded to many dictionary
  terms): term-at-a-time MaxScore (Turtle & Flood '95) with the
  block-max bound — terms processed in descending upper-bound order
  (ub = idf * block_bound(max_tf, min_dl)); once the summed bound of
  the unprocessed tail cannot reach the running kth score, no new doc
  is admitted, accumulated docs below threshold are dropped, and the
  remaining terms decode ONLY blocks containing a surviving candidate.

Scores are exact (no quantization, no approximation of the returned
top-k): the pruning pass uses a 1e-9 safety margin below the running
kth score, and survivors are re-scored with the same ascending-term
float accumulation order as the naive path and the pure-Python oracle,
so rank identity — including tie-breaks — is preserved (54 rank-
identity tests + an explicit skipped>0 MaxScore test).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import codec
from ..plans.lower import LoweredQuery
from .score import (
    IndexReader,
    _empty_results,
    _union_all,
    as_readers,
    query_stats,
    shard_stats,
)

DOC_BUCKET_SHIFT = 58  # 64 buckets over the int64 doc-id space
TARGET_DOCS_PER_BUCKET = 250_000  # adaptive: ~task-sized intersection work
_PRUNE_MARGIN = 1e-9  # float-safety margin for score-bound pruning


def _adaptive_shift(n_docs: int) -> int:
    """Pick the doc-range bucket width from corpus size: ~250k docs per
    bucket, clamped to [1, 4096] buckets. A 60k-doc index runs 1 task
    (no scheduling fan-out for milliseconds of work); a 10^12-doc index
    runs 4096 (raise TARGET for more)."""
    n_buckets = max(1, min(4096, n_docs // TARGET_DOCS_PER_BUCKET or 1))
    bits = max(1, (n_buckets - 1).bit_length())  # >=1: a 64-bit shift wraps
    return 64 - bits


class _BucketBlocks:
    """Column-array view over one bucket's block rows (no iterrows).

    ``exclude`` (sorted int64 array or None): PENDING deleted doc_ids
    (operators/deletes.py) masked out at decode time — a tombstoned doc
    never becomes a candidate, never enters a heap, and never raises an
    admission threshold, so the returned top-k is the exact top-k over
    live docs. Block-max bounds stay sound: removing docs can only
    lower a block's true max score, so the stored bound remains an
    upper bound."""

    def __init__(self, pdf: pd.DataFrame, exclude: np.ndarray | None = None):
        self.exclude = exclude if exclude is not None and exclude.size else None
        self.term_id = pdf["term_id"].to_numpy(np.int64)
        self.first = pdf["first_doc_id"].to_numpy(np.int64)
        self.last = pdf["last_doc_id"].to_numpy(np.int64)
        self.n_docs = pdf["n_docs"].to_numpy(np.int64)
        self.max_tf = pdf["max_tf"].to_numpy(np.int64)
        self.min_dl = pdf["min_dl"].to_numpy(np.int64)
        self.doc_deltas = pdf["doc_deltas"].to_numpy(object)
        self.tfs = pdf["tfs"].to_numpy(object)
        self.dls = pdf["dls"].to_numpy(object)
        self.rows_by_tid: dict[int, np.ndarray] = {}
        order = np.argsort(self.term_id, kind="stable")
        bounds = np.flatnonzero(
            np.concatenate(([True], self.term_id[order][1:] != self.term_id[order][:-1]))
        )
        for s, e in zip(bounds, np.append(bounds[1:], order.size)):
            self.rows_by_tid[int(self.term_id[order[s]])] = order[s:e]

    def decode_rows(self, idx: np.ndarray, lo: int, hi: int):
        """Decode the given block rows, clipped to bucket [lo, hi]."""
        docs_l, tfs_l, dls_l = [], [], []
        for i in idx:
            d = codec.delta_decode_docids(
                int(self.first[i]), self.doc_deltas[i], int(self.n_docs[i])
            )
            t = codec.varint_decode(self.tfs[i]).view(np.int64)
            l = codec.varint_decode(self.dls[i]).view(np.int64)
            m = (d >= lo) & (d <= hi)
            if m.any():
                docs_l.append(d[m])
                tfs_l.append(t[m])
                dls_l.append(l[m])
        if not docs_l:
            e = np.empty(0, np.int64)
            return e, e, e
        d = np.concatenate(docs_l)
        t = np.concatenate(tfs_l)
        l = np.concatenate(dls_l)
        if self.exclude is not None:
            pos = np.searchsorted(self.exclude, d)
            pos[pos == self.exclude.size] = 0
            live = self.exclude[pos] != d
            if not live.all():
                d, t, l = d[live], t[live], l[live]
        order = np.argsort(d, kind="stable")
        # fragments may repeat a doc only if encode emitted duplicates
        # (they cannot: salt is a function of doc_id) — no dedup needed.
        return d[order], t[order], l[order]

    def select_rows(
        self,
        tid: int,
        lo: int,
        hi: int,
        span: tuple[int, int] | None = None,
        cand: np.ndarray | None = None,
        stats: dict | None = None,
    ) -> np.ndarray:
        """Row indices of tid's blocks that can contain a wanted doc.

        Skips (counted in stats["blocks_skipped"]): outside the bucket,
        outside the candidate span, or — the fine-grained block-max WAND
        skip — containing NO current candidate (searchsorted on the
        sorted candidate array vs the block's [first, last] metadata)."""
        idx = self.rows_by_tid.get(tid)
        if idx is None:
            return np.empty(0, np.int64)
        first, last = self.first[idx], self.last[idx]
        keep = (last >= lo) & (first <= hi)
        if span is not None:
            keep &= (last >= span[0]) & (first <= span[1])
        if cand is not None and cand.size:
            # block contains a candidate iff some cand in [first, last]
            pos_f = np.searchsorted(cand, first, side="left")
            in_range = (pos_f < cand.size) & (cand[np.minimum(pos_f, cand.size - 1)] <= last)
            keep &= in_range
        if stats is not None:
            stats["blocks_skipped"] += int((~keep).sum())
            stats["blocks_decoded"] += int(keep.sum())
        return idx[keep]


def _merge_accumulate(
    acc_docs: np.ndarray,
    acc_scores: np.ndarray,
    d: np.ndarray,
    contrib: np.ndarray,
    admit: bool,
):
    """Sorted-merge (d, contrib) into the accumulator. admit=False only
    updates docs already present."""
    if d.size == 0:
        return acc_docs, acc_scores
    if acc_docs.size == 0:
        return (d.copy(), contrib.copy()) if admit else (acc_docs, acc_scores)
    pos = np.searchsorted(acc_docs, d)
    safe = np.minimum(pos, acc_docs.size - 1)
    hit = acc_docs[safe] == d
    np.add.at(acc_scores, safe[hit], contrib[hit])
    if admit and (~hit).any():
        new_d = d[~hit]
        new_s = contrib[~hit]
        acc_docs = np.concatenate([acc_docs, new_d])
        acc_scores = np.concatenate([acc_scores, new_s])
        order = np.argsort(acc_docs, kind="stable")
        acc_docs, acc_scores = acc_docs[order], acc_scores[order]
    return acc_docs, acc_scores


def _kth_largest(scores: np.ndarray, k: int) -> float:
    if scores.size < k:
        return -np.inf
    return float(np.partition(scores, scores.size - k)[scores.size - k])


def _exact_rescore(
    survivors: np.ndarray,
    term_cache: dict[str, tuple],
    idf_by_term: dict[str, float],
    avgdl: float,
    k1: float,
    b: float,
) -> np.ndarray:
    """Ascending-term float accumulation — bit-identical to the naive
    path / oracle (summation order is part of the rank-identity gate)."""
    scores = np.zeros(survivors.size, dtype=np.float64)
    for term in sorted(idf_by_term):
        dec = term_cache.get(term)
        if dec is None:
            continue
        d, t, l = dec
        if d.size == 0:
            continue
        pos = np.searchsorted(d, survivors)
        pos = np.clip(pos, 0, d.size - 1)
        hit = d[pos] == survivors
        if not hit.any():
            continue
        contrib = codec.bm25_contrib(
            t[pos[hit]], l[pos[hit]], idf_by_term[term], avgdl, k1, b
        )
        scores[hit] += contrib
    return scores


def _maxscore_union_topk(
    blocks: _BucketBlocks,
    terms: list[str],
    tid_of: dict[str, int],
    idf_by_term: dict[str, float],
    lo: int,
    hi: int,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    stats: dict,
) -> tuple[np.ndarray, np.ndarray]:
    """Single wide OR-group: TAAT MaxScore with block-max bounds.

    Terms processed in DESCENDING upper-bound order; once the tail's
    summed bound cannot reach the running (margin-adjusted) kth score,
    new docs stop being admitted and sub-threshold accumulated docs are
    dropped, which lets select_rows skip whole blocks. Survivors are
    exactly re-scored in ascending-term order for rank identity."""
    ub: dict[str, float] = {}
    for t in terms:
        idx = blocks.rows_by_tid.get(tid_of[t])
        if idx is None or idx.size == 0 or t not in idf_by_term:
            continue
        bnd = codec.block_bound(
            blocks.max_tf[idx], blocks.min_dl[idx], idf_by_term[t], avgdl, k1, b
        )
        ub[t] = float(np.max(bnd))
    if not ub:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    order = sorted(ub, key=lambda t: (-ub[t], t))
    tail_ub = np.concatenate([np.cumsum([ub[t] for t in order][::-1])[::-1], [0.0]])

    acc_docs = np.empty(0, np.int64)
    acc_scores = np.empty(0, np.float64)
    term_cache: dict[str, tuple] = {}
    admit = True
    for i, term in enumerate(order):
        theta = _kth_largest(acc_scores, k)
        if admit and np.isfinite(theta) and tail_ub[i] < theta - _PRUNE_MARGIN:
            admit = False  # no unseen doc can reach the top-k
            stats["admit_stopped_at_term"] = i
        if not admit:
            # drop accumulated docs that cannot reach theta anymore
            keep = acc_scores + tail_ub[i] >= theta - _PRUNE_MARGIN
            acc_docs, acc_scores = acc_docs[keep], acc_scores[keep]
            if acc_docs.size == 0:
                break
        cand = acc_docs if not admit else None
        idx = blocks.select_rows(tid_of[term], lo, hi, cand=cand, stats=stats)
        d, tf, dl = blocks.decode_rows(idx, lo, hi)
        term_cache[term] = (d, tf, dl)
        if d.size == 0:
            continue
        contrib = codec.bm25_contrib(tf, dl, idf_by_term[term], avgdl, k1, b)
        acc_docs, acc_scores = _merge_accumulate(
            acc_docs, acc_scores, d, contrib, admit
        )
    if acc_docs.size == 0:
        return acc_docs, acc_scores
    # final prune, then exact ascending-order rescore of the survivors
    theta = _kth_largest(acc_scores, k)
    keep = acc_scores >= theta - _PRUNE_MARGIN
    survivors = acc_docs[keep]
    idf_present = {t: idf_by_term[t] for t in term_cache}
    exact = _exact_rescore(survivors, term_cache, idf_present, avgdl, k1, b)
    return survivors, exact


def _conjunctive_topk(
    blocks: _BucketBlocks,
    group_list: list[tuple],
    tid_of: dict[str, int],
    idf_by_term: dict[str, float],
    df_by_term: dict[str, int],
    lo: int,
    hi: int,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    stats: dict,
) -> tuple[np.ndarray, np.ndarray]:
    """CNF conjunction: rarest group seeds candidates; every other term
    decodes only blocks overlapping the candidate span and containing at
    least one candidate."""
    ordered_groups = sorted(
        group_list, key=lambda g: min(df_by_term.get(t, 0) for t in g)
    )
    candidates: np.ndarray | None = None
    term_cache: dict[str, tuple] = {}
    for gi, g in enumerate(ordered_groups):
        if candidates is not None and candidates.size == 0:
            break
        span = (
            (int(candidates.min()), int(candidates.max()))
            if candidates is not None and candidates.size
            else None
        )
        cand = candidates if candidates is not None else None
        docs_g = []
        for t in g:
            if t not in idf_by_term:
                continue
            idx = blocks.select_rows(
                tid_of[t], lo, hi, span=span, cand=cand, stats=stats
            )
            dec = blocks.decode_rows(idx, lo, hi)
            if cand is not None and dec[0].size:
                # clip decoded postings to the current candidates
                pos = np.searchsorted(cand, dec[0])
                safe = np.minimum(pos, cand.size - 1)
                m = cand[safe] == dec[0]
                dec = (dec[0][m], dec[1][m], dec[2][m])
            term_cache[t] = dec
            docs_g.append(dec[0])
        union = (
            np.unique(np.concatenate(docs_g)) if docs_g else np.empty(0, np.int64)
        )
        candidates = (
            union
            if candidates is None
            else np.intersect1d(candidates, union, assume_unique=True)
        )
    if candidates is None or candidates.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)

    # exact scoring, ascending-term accumulation order (oracle parity).
    # terms decoded against an older (wider) candidate set are already
    # cached; terms never decoded (possible only if absent) contribute 0.
    for term in sorted(idf_by_term):
        if term not in term_cache:
            idx = blocks.select_rows(
                tid_of[term],
                lo,
                hi,
                span=(int(candidates.min()), int(candidates.max())),
                cand=candidates,
                stats=stats,
            )
            term_cache[term] = blocks.decode_rows(idx, lo, hi)
    scores = _exact_rescore(candidates, term_cache, idf_by_term, avgdl, k1, b)
    return candidates, scores


def score_bucket_kernel(
    pdf: pd.DataFrame,
    group_list: list[tuple],
    tid_of: dict[str, int],
    idf_by_term: dict[str, float],
    df_by_term: dict[str, int],
    shift: int,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    stats: dict | None = None,
    exclude: np.ndarray | None = None,
) -> pd.DataFrame:
    """One doc-range bucket's top-k (importable + unit-tested; the Spark
    path wraps it in applyInPandas). stats (optional) accumulates
    blocks_skipped / blocks_decoded / admit_stopped_at_term. exclude
    (optional, sorted int64): pending deleted doc_ids — masked at
    decode time (see _BucketBlocks)."""
    if stats is None:
        stats = {"blocks_skipped": 0, "blocks_decoded": 0}
    stats.setdefault("blocks_skipped", 0)
    stats.setdefault("blocks_decoded", 0)
    empty = pd.DataFrame(
        {
            "doc_id": pd.Series([], dtype="int64"),
            "score": pd.Series([], dtype="float64"),
        }
    )
    if pdf.empty:
        return empty
    qb = int(pdf["qb"].iloc[0])
    blocks = _BucketBlocks(pdf, exclude=exclude)
    docs, scores = _score_with_blocks(
        blocks, qb, group_list, tid_of, idf_by_term, df_by_term,
        shift, k, avgdl, k1, b, stats,
    )
    if docs.size == 0:
        return empty
    order = np.lexsort((docs, -scores))[:k]
    return pd.DataFrame({"doc_id": docs[order], "score": scores[order]})


def _score_with_blocks(
    blocks: _BucketBlocks,
    qb: int,
    group_list: list[tuple],
    tid_of: dict[str, int],
    idf_by_term: dict[str, float],
    df_by_term: dict[str, int],
    shift: int,
    k: int,
    avgdl: float,
    k1: float,
    b: float,
    stats: dict,
) -> tuple:
    # exact integer bucket bounds: qb in [-2^(63-shift), 2^(63-shift)-1]
    lo = int(np.int64(qb * (1 << shift)))
    hi = int(np.int64(min((qb + 1) * (1 << shift) - 1, 2**63 - 1)))
    if len(group_list) == 1 and len(group_list[0]) > 1:
        return _maxscore_union_topk(
            blocks, list(group_list[0]), tid_of, idf_by_term,
            lo, hi, k, avgdl, k1, b, stats,
        )
    return _conjunctive_topk(
        blocks, group_list, tid_of, idf_by_term, df_by_term,
        lo, hi, k, avgdl, k1, b, stats,
    )


def field_weight_of(term: str, field_weights: dict[str, float]) -> float:
    """BM25F weight of a term: its namespace prefix ('id:x' -> 'id')
    looked up in field_weights, default 1.0. A per-term weight folds
    EXACTLY into idf (the BM25 contribution is idf * tf_norm), so
    weighted queries reuse the unmodified kernels: block upper bounds
    scale with the same factor (still sound) and the exact rescore
    uses the same scaled dict (still exact)."""
    ns = term.split(":", 1)[0] if ":" in term else ""
    return float(field_weights.get(ns, 1.0))


def wand_scores(
    readers: IndexReader | list[IndexReader],
    query: LoweredQuery,
    k: int | None = 10,
    field_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Unordered (doc_id, score) of the query's candidates. With k, each
    bucket returns only its local top-k (MaxScore pruning active); with
    k=None every conjunction-satisfying doc is returned with its exact
    score — the input of the structural post-verification stage.

    ``readers`` is one IndexReader or a list of them (the shards of a
    sharded index, operators/federation.py). The term groups and the
    collection stats come from score.query_stats — integer sums over
    the readers, so one reader scores under its own stats and N shards
    score bit-identically to one index over their union. Each reader
    runs the kernels over its own blocks under those stats, with the
    doc-bucket shift taken from its own n_docs; the per-reader frames
    union. A term a reader lacks matches no postings there (shards
    partition the docs)."""
    readers = as_readers(readers)
    spark = readers[0].spark
    # each calling thread gets its own FAIR scheduler pool (pool names
    # are created on demand): concurrent clients' jobs share executor
    # slots fairly instead of queueing FIFO behind one client's stages
    import threading as _threading

    spark.sparkContext.setLocalProperty(
        "spark.scheduler.pool", f"query-{_threading.get_ident()}"
    )
    groups, stats = query_stats(readers, query)
    if not groups or any(len(g) == 0 for g in groups):
        return _empty_results(spark)
    tmeta = stats["terms"]
    # terms absent from the dictionary: singleton group -> empty result
    for g in groups:
        if all(t not in tmeta for t in g):
            return _empty_results(spark)
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    all_terms = sorted({t for g in groups for t in g})

    from ..functions.hashing import spark_xxhash64

    tid_of = {t: spark_xxhash64(t) for t in all_terms}  # bit-equal to writer
    buckets = readers[0].term_buckets(all_terms)
    idf_by_term = {t: float(m["idf"]) for t, m in tmeta.items()}
    df_by_term = {t: int(m["df"]) for t, m in tmeta.items()}
    if field_weights:
        idf_by_term = {
            t: v * field_weight_of(t, field_weights)
            for t, v in idf_by_term.items()
        }
    group_list = [tuple(g) for g in groups]
    kk = k if k is not None else 1 << 31  # no pruning, all candidates

    def reader_scores(reader: IndexReader) -> DataFrame:
        shift = _adaptive_shift(int(reader.meta.get("n_docs", 0)))
        excl = reader.pending_tombstone_ids()  # None unless deletes pending
        blk = (
            reader.blocks()
            .filter(F.col("term_bucket").isin(buckets))  # partition pruning
            .filter(F.col("term_id").isin(list(tid_of.values())))  # row-group pushdown
            .withColumn(
                "qb",
                F.explode(
                    F.sequence(
                        F.shiftright("first_doc_id", shift),
                        F.shiftright("last_doc_id", shift),
                    )
                ),
            )
        )

        def score_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
            return score_bucket_kernel(
                pdf, group_list, tid_of, idf_by_term, df_by_term,
                shift, kk, avgdl, k1, b, exclude=excl,
            )

        return blk.groupBy("qb").applyInPandas(
            score_bucket, "doc_id long, score double"
        )

    return _union_all([reader_scores(r) for r in readers])


def wand_topk(
    readers: IndexReader | list[IndexReader],
    query: LoweredQuery,
    k: int = 10,
    offset: int = 0,
    field_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Global top-k with LIMIT/OFFSET paging (reiz/fetch.py:10,71-81)
    over one index or a reader list (see wand_scores).
    field_weights (BM25F): per-namespace score multipliers, e.g.
    {'id': 2.0, 'node': 0.5} boosts identifier hits over bare
    node-type hits — folded into idf, exact (see field_weight_of)."""
    out = wand_scores(readers, query, k=k + offset, field_weights=field_weights)
    ranked = out.orderBy(F.desc("score"), F.asc("doc_id"))
    if offset:
        ranked = ranked.offset(offset)
    return ranked.limit(k)


def wand_topk_batch(
    reader: IndexReader,
    queries: dict[str, LoweredQuery],
    k: int = 10,
) -> DataFrame:
    """Run MANY queries in ONE Spark job: (query_name, doc_id, score,
    rank).

    Spark's fixed per-job scheduling cost (~0.5-1 s) dominates
    single-query latency on the distributed tier; a bulk workload (the
    27-query reference suite, offline evaluation, re-ranking sweeps)
    should pay it ONCE. One pruned blocks scan covers the union of all
    queries' terms; a broadcast (term_id -> query) map fans each block
    out to the queries that need it, and the work is partitioned by
    (query, doc-bucket) — parallelism = n_queries x n_buckets tasks, so
    the batch scales with cores even when the corpus fits one doc
    bucket. Each task runs the same exact kernels as wand_topk —
    per-query results are rank-identical to the one-at-a-time path
    (pytest-gated)."""
    spark = reader.spark
    bucket_shift = _adaptive_shift(int(reader.meta.get("n_docs", 0)))

    ctx: dict[str, tuple] = {}  # qid -> (group_list, q_idf, q_df)
    all_terms: set[str] = set()
    resolved: dict[str, list] = {}
    for qid, query in queries.items():
        groups = reader.resolve_groups(query)
        if not groups or any(len(g) == 0 for g in groups):
            continue
        resolved[qid] = [tuple(g) for g in groups]
        all_terms.update(t for g in groups for t in g)
    terms_sorted = sorted(all_terms)
    stats = shard_stats([reader], terms_sorted)  # ONE dictionary lookup
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    tmeta = stats["terms"]
    idf_by_term = {t: float(m["idf"]) for t, m in tmeta.items()}
    df_by_term = {t: int(m["df"]) for t, m in tmeta.items()}
    for qid, group_list in resolved.items():
        if any(all(t not in tmeta for t in g) for g in group_list):
            continue  # some group entirely absent -> empty result
        # scoring dicts restricted to THIS query's terms: the exact
        # rescore iterates the idf dict, so the union dict would add
        # other queries' contributions
        q_terms = {t for g in group_list for t in g}
        q_idf = {t: idf_by_term[t] for t in q_terms if t in idf_by_term}
        q_df = {t: df_by_term[t] for t in q_terms if t in df_by_term}
        ctx[qid] = (group_list, q_idf, q_df)
    if not ctx:
        return spark.createDataFrame(
            [], "query_name string, doc_id long, score double, rank int"
        )

    from ..functions.hashing import spark_xxhash64

    tid_of = {t: spark_xxhash64(t) for t in terms_sorted}
    buckets = reader.term_buckets(terms_sorted)
    # broadcast fan-out: (term_id, qid) pairs route each block to every
    # query referencing its term, so the work partitions by
    # (query, doc-bucket) — parallelism = n_queries x n_buckets tasks
    # even when the whole corpus fits one doc bucket
    fan_rows = sorted(
        {
            (tid_of[t], qid)
            for qid, (group_list, _, _) in ctx.items()
            for g in group_list
            for t in g
            if t in tmeta
        }
    )
    fan = spark.createDataFrame(fan_rows, "term_id long, query_name string")
    blk = (
        reader.blocks()
        .filter(F.col("term_bucket").isin(buckets))
        .filter(F.col("term_id").isin(list(tid_of.values())))
        .join(F.broadcast(fan), "term_id")
        .withColumn(
            "qb",
            F.explode(
                F.sequence(
                    F.shiftright("first_doc_id", bucket_shift),
                    F.shiftright("last_doc_id", bucket_shift),
                )
            ),
        )
    )
    shift, kk = bucket_shift, k
    excl = reader.pending_tombstone_ids()  # None unless deletes pending

    def score_bucket_multi(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_name": pd.Series([], dtype="object"),
             "doc_id": pd.Series([], dtype="int64"),
             "score": pd.Series([], dtype="float64")}
        )
        if pdf.empty:
            return empty
        qid = pdf["query_name"].iloc[0]
        qb = int(pdf["qb"].iloc[0])
        group_list, q_idf, q_df = ctx[qid]
        blocks = _BucketBlocks(pdf, exclude=excl)
        stats = {"blocks_skipped": 0, "blocks_decoded": 0}
        docs, scores = _score_with_blocks(
            blocks, qb, group_list, tid_of, q_idf, q_df,
            shift, kk, avgdl, k1, b, stats,
        )
        if docs.size == 0:
            return empty
        order = np.lexsort((docs, -scores))[:kk]
        return pd.DataFrame(
            {"query_name": [qid] * order.size,
             "doc_id": docs[order],
             "score": scores[order]}
        )

    out = blk.groupBy("query_name", "qb").applyInPandas(
        score_bucket_multi, "query_name string, doc_id long, score double"
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("query_name").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_name", "doc_id", "score", "rank")
    )
