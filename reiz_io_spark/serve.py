"""Warm query serving tier: one service over a list of index snapshots,
driver-side decoded-postings caches with a distributed fallback.

The reference's production path is a long-lived process holding
prepared queries and a Redis result cache in front of the database
(reiz/web/api.py:50-63, reiz/ir/builder.py:54-68); its published
25-287 ms latencies are measured against that warm tier. Spark's
fixed per-job scheduling cost (~0.2-1 s) makes "one Spark job per
interactive query" the wrong serving shape at ANY corpus size, so this
module gives the engine the same two-tier design:

- QueryService serves one or more committed index snapshots: a single
  index, or the shards of a sharded one (operators/federation.py —
  shards partition the docs). Every request takes the same steps for
  any number of shards: pin one generation; take the global BM25
  statistics as integer sums over the shards (score.shard_stats, the
  dfs phase of dfs_query_then_fetch); score each shard's cached,
  DECODED posting lists under those stats in one vectorized pass whose
  np.bincount adds each doc's contributions in ascending-term order —
  the exact float sequence of the distributed path (rank identity vs
  naive_bm25_topk is pytest-gated); merge on (-score, doc_id); render
  metadata from the owning shard. The pass is dense when the query
  reads at least 1/16 as many postings P as the shard has docs N: it
  works over doc ordinals (positions in the shard's sorted doc ids,
  cached with each posting list) by N-sized scatters and indexing,
  O(G·N + P) for G conjunct groups. Otherwise it is sparse over the
  C candidates, O(P log C). Both select the top k with a partition
  threshold and sort only the rows at or above it.
  Sums over one shard are that index's own statistics, so a
  one-snapshot service is the single-index service bit-for-bit.
- Queries whose total df exceeds ``max_driver_postings`` take the
  distributed route instead: the ordinary read operators (wand_topk,
  bm25_topk_after, explain_score, structural_topk) over the
  generation's reader list, which take the same summed stats. A
  hot-term scan at 10^12 docs is cluster work; a 5-term conjunction
  over rare terms is not. Cache misses fetch ONLY the missing terms'
  blocks via one pruned parquet read per shard (term_bucket partition
  filter + term_id pushdown).

On a real cluster this process is the query frontend; executors keep
serving big scans. Nothing here is required for correctness — it is a
latency tier, exactly like the reference's Redis."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import OrderedDict

import numpy as np
from pyspark.sql import functions as F

from .functions import codec
from .functions.hashing import spark_xxhash64
from .functions.links import github_link, username_of
from .operators.score import (
    IndexReader,
    as_readers,
    bm25_topk_after,
    explain_score,
    shard_stats,
)
from .operators.wand import field_weight_of, wand_topk
from .plans.lower import LoweredQuery, expand_groups

# decoded sources kept per shard for structural verification
MAX_CACHED_CONTENTS = 16_384
# a shard scores a query densely when its doc count is at most this
# many times the query's postings on it (crossover: _Shard.score)
DENSE_DOCS_PER_POSTING = 16
# (repo, path, commit) of a doc_id the snapshot does not hold
_UNKNOWN_DOC = ("?", "?", None)


class _LRU(OrderedDict):
    """Tiny bounded LRU mapping: set bumps recency and evicts oldest
    beyond maxsize. `in`/get do NOT bump (reads stay lock-free for
    concurrent handlers); staleness only affects eviction order."""

    def __init__(self, maxsize: int):
        super().__init__()
        self.maxsize = maxsize

    def __setitem__(self, key, value):
        super().__setitem__(key, value)
        self.move_to_end(key)
        while len(self) > self.maxsize:
            self.popitem(last=False)


def _locate(ids: np.ndarray, d: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(pos, hit): each of ``d``'s insertion points in the sorted,
    non-empty ``ids`` and whether ``ids[pos]`` equals it."""
    pos = np.searchsorted(ids, d)
    return pos, ids[np.minimum(pos, ids.size - 1)] == d


def _top_k(keys: np.ndarray, scores: np.ndarray, k: int) -> np.ndarray:
    """Indices of the k best rows under (-score, key), best first. When
    k is below the row count, an np.partition threshold (the k-th
    largest score) drops the rows under it and only the survivors —
    ties at the threshold included — are sorted."""
    if 0 < k < scores.size:
        kth = np.partition(scores, scores.size - k)[scores.size - k]
        keep = np.flatnonzero(scores >= kth)
        return keep[np.lexsort((keys[keep], -scores[keep]))[:k]]
    return np.lexsort((keys, -scores))[:k]


def _posting_idf(
    tmeta: dict, terms: list[str], cols: list[tuple],
    field_weights: dict[str, float] | None,
) -> np.ndarray:
    """Each concatenated posting's idf (times its term's field weight,
    folded per term as a Python float), in ``terms`` order."""
    idf = [float(tmeta[t]["idf"]) for t in terms]
    if field_weights:
        idf = [w * field_weight_of(t, field_weights) for t, w in zip(terms, idf)]
    return np.repeat(idf, [c[0].size for c in cols])


def _fold_position_rows(rows, offset: int) -> list[dict]:
    """structural_topk rows (one per (doc, match)) -> the serving
    tier's grouped dict shape; rows must arrive doc-grouped in rank
    order."""
    out: list[dict] = []
    for r in rows:
        m = {"lineno": r["lineno"], "col_offset": r["col_offset"],
             "end_lineno": r["end_lineno"], "segment": r["segment"],
             "github_link": r["github_link"]}
        if out and out[-1]["doc_id"] == r["doc_id"]:
            out[-1]["matches"].append(m)
            if r["lineno"] not in out[-1]["linenos"]:
                out[-1]["linenos"].append(r["lineno"])
            continue
        out.append(
            {"doc_id": r["doc_id"], "repo": r["repo"], "path": r["path"],
             "score": r["score"], "rank": offset + len(out) + 1,
             "username": r["username"],
             "github_link": r["github_link"],
             "linenos": [r["lineno"]], "matches": [m]}
        )
    return out


class _Shard:
    """One committed index snapshot with its warm caches: reader,
    decoded-postings LRU, doc metadata, content LRU and the pending-
    tombstone mask. A commit to the index is picked up by opening a NEW
    _Shard; this one keeps serving the requests that pinned it."""

    def __init__(
        self,
        reader: IndexReader,
        miss_lock: threading.Lock,
        max_driver_docmeta: int,
        max_cached_terms: int,
    ):
        self.reader = reader
        self.meta = reader.meta
        self.n_docs = int(self.meta["n_docs"])
        # shared with the owning service: miss serialization may span a
        # snapshot swap (harmless — it only bounds duplicate collects)
        self._miss_lock = miss_lock
        # term -> (d, tf, dl, ordinals), see _entry
        self._postings: _LRU = _LRU(max_cached_terms)
        self._content: _LRU = _LRU(MAX_CACHED_CONTENTS)
        self._docmeta: dict[int, tuple] | None = None
        # sorted doc ids of the warm map: the dense scorer's ordinal
        # space. None when the shard has no warm map.
        self._ids: np.ndarray | None = None
        if 0 < self.n_docs <= max_driver_docmeta:
            rows = reader.docs().select("doc_id", "repo", "path", "commit").collect()
            self._docmeta = {
                r["doc_id"]: (r["repo"], r["path"], r["commit"]) for r in rows
            }
        # pending deleted docs (operators/deletes.py): masked out of
        # every decoded posting list below, so all serving paths
        # exclude them; folded tombstones are already absent from
        # blocks. The reader pins one meta snapshot — a delete commits
        # a NEW snapshot, picked up by refresh_if_stale.
        self._excl = reader.pending_tombstone_ids()
        if self._docmeta is not None:
            if self._excl is not None:
                for did in self._excl.tolist():
                    self._docmeta.pop(did, None)
            self._ids = np.sort(
                np.fromiter(self._docmeta, np.int64, len(self._docmeta))
            )

    def is_stale(self) -> bool:
        """True iff meta.json now names another committed version."""
        try:
            with open(os.path.join(self.reader.index_dir, "meta.json")) as fh:
                v = int(json.load(fh).get("version", 0))
        except (OSError, ValueError):
            return False
        return v != int(self.meta.get("version", 0))

    # -- postings ----------------------------------------------------------

    def postings(self, terms: list[str]) -> dict[str, tuple]:
        """{term: (doc_ids, tf, dl, ordinals)}, doc-sorted, pending
        deletes masked (see _entry). The dict is request-local: a
        concurrent fill evicting a term from the shared LRU cannot take
        it from this request.
        Misses serialize behind the miss lock (double-checked) so
        concurrent cold queries on the same terms collect once."""
        got = {t: self._postings.get(t) for t in terms}
        missing = [t for t, v in got.items() if v is None]
        if not missing:
            return got
        with self._miss_lock:
            got.update((t, self._postings.get(t)) for t in missing)
            missing = [t for t in missing if got[t] is None]
            if missing:
                fetched = self._read_postings(missing)
                for t, v in fetched.items():
                    self._postings[t] = v
                got.update(fetched)
        return got

    def _read_postings(self, terms: list[str]) -> dict[str, tuple]:
        """One pruned blocks read for ``terms``."""
        tid_of = {spark_xxhash64(t): t for t in terms}
        rows = (
            self.reader.blocks()
            .filter(F.col("term_bucket").isin(self.reader.term_buckets(terms)))
            .filter(F.col("term_id").isin(list(tid_of.keys())))
            .collect()
        )
        by_term: dict[str, list] = {t: [] for t in terms}
        for r in rows:
            by_term[tid_of[r["term_id"]]].append(r)
        out = {}
        for t, blks in by_term.items():
            if not blks:
                empty = np.empty(0, np.int64)
                out[t] = self._entry(t, empty, empty, empty)
                continue
            decoded = [codec.decode_block(r) for r in blks]
            d = np.concatenate([x[0] for x in decoded])
            tf = np.concatenate([x[1] for x in decoded])
            dl = np.concatenate([x[2] for x in decoded])
            if self._excl is not None:
                live = ~_locate(self._excl, d)[1]
                d, tf, dl = d[live], tf[live], dl[live]
            order = np.argsort(d, kind="stable")
            out[t] = self._entry(t, d[order], tf[order], dl[order])
        return out

    def _entry(
        self, term: str, d: np.ndarray, tf: np.ndarray, dl: np.ndarray
    ) -> tuple:
        """The cache entry (d, tf, dl, ordinals) of one doc-sorted
        posting list: ordinals are d's positions in ``_ids`` (None when
        the shard has no ``_ids``), computed once here so the dense
        scorer never searches. A posting whose doc the docs table does
        not hold marks a corrupt snapshot: refused, never scored."""
        if self._ids is None:
            return d, tf, dl, None
        ords = np.searchsorted(self._ids, d)
        if d.size and (
            self._ids.size == 0
            or not np.array_equal(self._ids.take(ords, mode="clip"), d)
        ):
            absent = np.setdiff1d(d, self._ids)[:5].tolist()
            raise RuntimeError(
                f"corrupt index snapshot {self.reader.index_dir!r} "
                f"(version {self.meta.get('version', 0)}): term {term!r} "
                f"has postings for doc_ids its docs table does not hold, "
                f"e.g. {absent}"
            )
        return d, tf, dl, ords

    # -- scoring (exact, oracle accumulation order) ------------------------

    def score(
        self, groups: list[tuple[str, ...]], tmeta: dict, postings: dict,
        k: int, avgdl: float, k1: float, b: float,
        field_weights: dict[str, float] | None = None,
    ) -> list[tuple[int, float]]:
        """This shard's top-k (doc_id, score) under the given stats, in
        one vectorized pass over the query's P postings on the shard.

        Dense path, when the shard's N docs are at most
        DENSE_DOCS_PER_POSTING·P (and it has ``_ids``): each conjunct
        group is one boolean scatter of its cached ordinals into an
        N-sized mask, the masks are ANDed, and the contributions sum
        into N slots with np.bincount over the ordinals: O(G·N + P) for
        G groups, no search and no candidate sort. The bound keeps the
        N-sized work within a constant factor of the postings the
        request reads anyway. Sparse path otherwise: O(P log C) over
        the C candidates (the smallest-df group's union, filtered by
        each later group's doc lists with one searchsorted), which
        touches nothing sized by N.

        Both concatenate every term's postings in ascending-term order
        with a per-posting (field-weighted) idf and call bm25_contrib
        once; np.bincount adds in input order from 0.0, so each doc
        receives its contributions in ascending-term order: the
        oracle's float sequence, bit for bit, on either path. Both take
        the top k with _top_k; ordinals are monotone in doc_id, so the
        (-score, doc_id) tie-break is the same.

        Crossover (one thread, k = 10, 6 terms of seeded random
        postings split into 1, 2 or 3 groups, P = 2,000 and 6,000):
        dense wins at every N/P up to 32, e.g. at N/P = 16 with two
        groups 76 against 108 µs (P = 2,000) and 145 against 257 µs
        (P = 6,000); two-group queries lose from N/P ≈ 48 on, so the
        bound 16 keeps a 2-3x margin."""
        p = sum(postings[t][0].size for t in tmeta)
        if self._ids is not None and self._ids.size <= DENSE_DOCS_PER_POSTING * p:
            return self._score_dense(
                groups, tmeta, postings, k, avgdl, k1, b, field_weights
            )
        return self._score_sparse(
            groups, tmeta, postings, k, avgdl, k1, b, field_weights
        )

    def _score_dense(
        self, groups: list[tuple[str, ...]], tmeta: dict, postings: dict,
        k: int, avgdl: float, k1: float, b: float,
        field_weights: dict[str, float] | None,
    ) -> list[tuple[int, float]]:
        n = self._ids.size
        mask: np.ndarray | None = None
        for g in groups:
            ords_g = [postings[t][3] for t in g if t in tmeta]
            if not ords_g:
                return []
            hit = np.zeros(n, dtype=bool)
            hit[np.concatenate(ords_g)] = True
            mask = hit if mask is None else np.logical_and(mask, hit, out=mask)
        if mask is None:
            return []
        cand = np.flatnonzero(mask)
        if cand.size == 0:
            return []
        terms = sorted(tmeta)
        cols = [postings[t] for t in terms]
        contrib = codec.bm25_contrib(
            np.concatenate([c[1] for c in cols]),
            np.concatenate([c[2] for c in cols]),
            _posting_idf(tmeta, terms, cols, field_weights),
            avgdl, k1, b,
        )
        scores = np.bincount(
            np.concatenate([c[3] for c in cols]), weights=contrib, minlength=n
        )[cand]
        return [
            (int(self._ids[cand[i]]), float(scores[i]))
            for i in _top_k(cand, scores, k)
        ]

    def _score_sparse(
        self, groups: list[tuple[str, ...]], tmeta: dict, postings: dict,
        k: int, avgdl: float, k1: float, b: float,
        field_weights: dict[str, float] | None,
    ) -> list[tuple[int, float]]:
        candidates: np.ndarray | None = None
        for g in sorted(groups, key=lambda g: min(
            (tmeta[t]["df"] for t in g if t in tmeta), default=0
        )):
            docs_g = [postings[t][0] for t in g if t in tmeta]
            if not docs_g:
                return []
            if candidates is None:
                candidates = np.unique(np.concatenate(docs_g))
            else:
                pos, hit = _locate(candidates, np.concatenate(docs_g))
                keep = np.zeros(candidates.size, dtype=bool)
                keep[pos[hit]] = True
                candidates = candidates[keep]
            if candidates.size == 0:
                return []
        if candidates is None:
            return []
        terms = sorted(tmeta)
        cols = [postings[t] for t in terms]
        pos, hit = _locate(candidates, np.concatenate([c[0] for c in cols]))
        contrib = codec.bm25_contrib(
            np.concatenate([c[1] for c in cols])[hit],
            np.concatenate([c[2] for c in cols])[hit],
            _posting_idf(tmeta, terms, cols, field_weights)[hit],
            avgdl, k1, b,
        )
        scores = np.bincount(pos[hit], weights=contrib, minlength=candidates.size)
        return [
            (int(candidates[i]), float(scores[i]))
            for i in _top_k(candidates, scores, k)
        ]

    # -- metadata / content lookups ----------------------------------------

    def doc_meta(self, doc_id: int) -> tuple[str, str, str | None]:
        """(repo, path, commit); _UNKNOWN_DOC when this snapshot does
        not hold the doc. The warm map holds every live doc."""
        if self._docmeta is not None:
            return self._docmeta.get(doc_id, _UNKNOWN_DOC)
        rows = (
            self.reader.docs()
            .filter(F.col("doc_id") == doc_id)
            .select("repo", "path", "commit")
            .collect()
        )
        if not rows:
            return _UNKNOWN_DOC
        return (rows[0]["repo"], rows[0]["path"], rows[0]["commit"])

    def contents(self, doc_ids: list[int]) -> dict[int, str | None]:
        """Returns {doc_id: content-or-None} for the requested ids (a
        plain dict snapshot, immune to concurrent LRU eviction); fills
        the bounded cache as a side effect."""
        if not all(d in self._content for d in doc_ids):
            with self._miss_lock:
                missing = [d for d in doc_ids if d not in self._content]
                if missing:
                    # ONE parsed IN expression — Column.isin is a py4j
                    # round-trip per element (linear driver cost)
                    in_list = ",".join(str(int(d)) for d in missing)
                    rows = (
                        self.reader.content()
                        .filter(F.expr(f"doc_id IN ({in_list})"))
                        .select("doc_id", "content")
                        .collect()
                    )
                    got = {r["doc_id"]: r["content"] for r in rows}
                    for d in missing:
                        self._content[d] = got.get(d)
        return {d: self._content.get(d) for d in doc_ids}


class _Generation:
    """One pinned set of shard snapshots and the global statistics that
    rank across them: n_docs, total_dl and per-term df/cf are integer
    sums over the shards (score.shard_stats), idf/avgdl derive
    from the sums. A request pins ONE generation at entry and reads
    everything through it, so a refresh landing mid-request can never
    mix generations (old idf with new postings/avgdl). The Like
    expansions and term stats memoized here are global; each shard's
    IndexReader serializes and memoizes its own dictionary reads
    underneath, so concurrent fills here only repeat a deterministic
    sum and need no lock."""

    def __init__(self, shards: list[_Shard]):
        self.shards = shards
        self.readers = [sh.reader for sh in shards]
        totals = shard_stats(self.readers, [])
        self.k1, self.b = totals["k1"], totals["b"]
        self.n_docs, self.avgdl = totals["n_docs"], totals["avgdl"]
        versions = "-".join(str(sh.meta.get("version", 0)) for sh in shards)
        if len(shards) == 1:
            self.version, self.meta = versions, shards[0].meta
        else:
            self.version = f"fed{len(shards)}:{versions}"
            self.meta = {
                "version": self.version, "build_id": "federated",
                "n_docs": self.n_docs, "total_dl": totals["total_dl"],
                "avgdl": self.avgdl, "k1": self.k1, "b": self.b,
            }
        self._like: dict[tuple[str, str], list[str]] = {}
        self._tmeta: dict[str, dict] = {}
        self._absent: set[str] = set()

    # -- global term resolution (memoized) ---------------------------------

    def _expand(self, namespace: str, regex: str) -> list[str]:
        key = (namespace, regex)
        hit = self._like.get(key)
        if hit is None:
            hit = sorted({
                t for r in self.readers
                for t in r.dictionary_terms_for(namespace, regex)
            })
            self._like[key] = hit
        return hit

    def resolve_groups(self, query: LoweredQuery) -> list[tuple[str, ...]]:
        return expand_groups(query, self._expand)

    def term_meta(self, terms: list[str]) -> dict[str, dict]:
        """Global {term: {"term", "df", "cf", "idf"}} for the terms some
        shard holds."""
        missing = [
            t for t in terms if t not in self._tmeta and t not in self._absent
        ]
        if missing:
            got = shard_stats(self.readers, missing)["terms"]
            self._tmeta.update(got)
            self._absent.update(t for t in missing if t not in got)
        return {t: self._tmeta[t] for t in terms if t in self._tmeta}

    # -- driver route ------------------------------------------------------

    def _fetch_postings(self, terms: list[str]) -> list[dict]:
        """Request-local postings, one dict per shard."""
        return [sh.postings(terms) for sh in self.shards]

    def _score_driver(
        self, groups: list[tuple[str, ...]], tmeta: dict, k: int,
        postings: list[dict], field_weights: dict[str, float] | None = None,
    ) -> list[tuple[int, float, int]]:
        """Global top-k (doc_id, score, owning shard) merged on
        (-score, doc_id)."""
        per = [
            [(d, s, i) for d, s in sh.score(
                groups, tmeta, postings[i], k, self.avgdl, self.k1, self.b,
                field_weights,
            )]
            for i, sh in enumerate(self.shards)
        ]
        if len(per) == 1:
            return per[0]
        merged = [h for p in per for h in p]
        merged.sort(key=lambda h: (-h[1], h[0]))
        return merged[:k]

    # -- rendering ---------------------------------------------------------

    def doc_meta(self, doc_id: int, owner: int | None = None) -> tuple:
        """Metadata from the owning shard; an unknown owner (distributed
        route) is found by probing the shards — each doc_id lives in
        exactly one."""
        shards = self.shards if owner is None else [self.shards[owner]]
        for sh in shards:
            got = sh.doc_meta(doc_id)
            if got != _UNKNOWN_DOC:
                return got
        return _UNKNOWN_DOC

    def hits(self, ranked: list[tuple], first_rank: int) -> list[dict]:
        out = []
        for rank, (doc_id, score, owner) in enumerate(ranked, start=first_rank):
            repo, path, commit = self.doc_meta(doc_id, owner)
            out.append(
                {"doc_id": doc_id, "repo": repo, "path": path,
                 "score": score, "rank": rank,
                 # reference renders both in every result row
                 # (reiz/fetch.py:95-107)
                 "github_link": github_link(repo, commit, path),
                 "username": username_of(repo)}
            )
        return out


class QueryService:
    """Warm serving over one index snapshot or a list of shard
    snapshots (``reader`` may be an IndexReader or a list of them).

    Thread-safety contract: a single QueryService may be called from
    many threads (ThreadingHTTPServer handlers). The warm path is
    lock-free — cache reads hit immutable values in dicts that are only
    ever inserted into. Cache MISSES serialize behind one miss lock
    (double-checked), so concurrent cold queries never issue duplicate
    Spark collects for the same keys; warm traffic never blocks on a
    cold fill. Postings/content caches are bounded LRUs — a long-lived
    server's memory stays proportional to its hot set, not its history.

    Snapshot consistency: every request pins `self._snap` (one
    `_Generation`) once at entry; `refresh_if_stale` publishes a new
    generation with one reference assignment (atomic under the GIL),
    so a request never sees a mix of old and new generations.
    """

    def __init__(
        self,
        reader: IndexReader | list[IndexReader],
        max_driver_postings: int = 5_000_000,
        max_driver_docmeta: int = 5_000_000,
        max_cached_terms: int = 65_536,
        auto_refresh_s: float | None = None,
    ):
        readers = as_readers(reader)
        self.max_driver_postings = max_driver_postings
        self._max_driver_docmeta = max_driver_docmeta
        self._max_cached_terms = max_cached_terms
        # auto_refresh_s: with a live-maintained index (update/delete/
        # merge commits), re-stat every shard's meta.json at most this
        # often from the request methods and rebind the shards that
        # committed. None (default) = pinned snapshots.
        self.auto_refresh_s = auto_refresh_s
        self._next_refresh_check = 0.0
        self._miss_lock = threading.Lock()
        self._snap = _Generation([self._open(r) for r in readers])

    def _open(self, reader: IndexReader) -> _Shard:
        return _Shard(
            reader, self._miss_lock, self._max_driver_docmeta,
            self._max_cached_terms,
        )

    # -- generation delegation (request paths pin _snap once) -------------

    @property
    def reader(self) -> IndexReader:
        return self._snap.readers[0]

    @property
    def meta(self) -> dict:
        return self._snap.meta

    @property
    def n_docs(self) -> int:
        return self._snap.n_docs

    def resolve_groups(self, query: LoweredQuery) -> list[tuple[str, ...]]:
        return self._snap.resolve_groups(query)

    def term_meta(self, terms: list[str]) -> dict[str, dict]:
        return self._snap.term_meta(terms)

    # -- refresh -----------------------------------------------------------

    def refresh_if_stale(self) -> bool:
        """Rebind the shards whose meta.json names a newer committed
        snapshot (an update/delete/merge flipped it). One meta.json
        read per shard; True iff the service re-bound. Only committed
        shards' caches reset and refill lazily; the others carry over.
        Requests in flight during the swap finish on the old
        generation; requests arriving after it see the new one."""
        if not any(sh.is_stale() for sh in self._snap.shards):
            return False
        with self._miss_lock:
            old = self._snap.shards
            shards = [
                self._open(IndexReader(sh.reader.spark, sh.reader.index_dir))
                if sh.is_stale() else sh
                for sh in old
            ]
            if all(a is b for a, b in zip(shards, old)):  # double-checked
                return False
            self._snap = _Generation(shards)
        return True

    def _maybe_auto_refresh(self) -> None:
        if self.auto_refresh_s is None:
            return
        now = time.monotonic()
        if now < self._next_refresh_check:
            return
        self._next_refresh_check = now + float(self.auto_refresh_s)
        self.refresh_if_stale()

    def version_key(self) -> str:
        """Version of the generation the next request would serve
        (after the auto-refresh check): the meta version of a single
        index, the combined shard versions otherwise. Result caches
        key on it, so a commit makes older entries unreachable."""
        self._maybe_auto_refresh()
        return self._snap.version

    # -- request methods ---------------------------------------------------

    def _pin(self, query: LoweredQuery):
        """(generation, groups, tmeta) for one request; groups is None
        when the query cannot match (an empty group, or a group none of
        whose terms any shard holds)."""
        self._maybe_auto_refresh()
        gen = self._snap  # pin ONE generation for the whole request
        groups = gen.resolve_groups(query)
        if not groups or any(len(g) == 0 for g in groups):
            return gen, None, None
        tmeta = gen.term_meta(sorted({t for g in groups for t in g}))
        if any(all(t not in tmeta for t in g) for g in groups):
            return gen, None, None
        return gen, groups, tmeta

    def _distributed(self, tmeta: dict) -> bool:
        return sum(m["df"] for m in tmeta.values()) > self.max_driver_postings

    def _ranked(
        self, gen: _Generation, groups, tmeta, query: LoweredQuery,
        k: int, offset: int, field_weights: dict[str, float] | None,
    ) -> list[tuple]:
        """Global top-k after ``offset`` as (doc_id, score, owner)."""
        if self._distributed(tmeta):
            top = wand_topk(
                gen.readers, query, k=k, offset=offset,
                field_weights=field_weights,
            ).collect()
            return [(r["doc_id"], r["score"], None) for r in top]
        return gen._score_driver(
            groups, tmeta, k + offset, gen._fetch_postings(list(tmeta)),
            field_weights,
        )[offset:]

    def query_topk(
        self, query: LoweredQuery, k: int = 10, offset: int = 0,
        field_weights: dict[str, float] | None = None,
    ) -> list[dict]:
        """Ranked results as dicts. Warm path: zero Spark jobs once the
        query's terms are cached. Fallback: the distributed WAND plan.
        field_weights (BM25F): per-namespace multipliers applied at
        score time — the postings cache stays weight-independent, so
        one warm cache serves every weighting."""
        gen, groups, tmeta = self._pin(query)
        if groups is None:
            return []
        ranked = self._ranked(gen, groups, tmeta, query, k, offset, field_weights)
        return gen.hits(ranked, offset + 1)

    def query_after(
        self, query: LoweredQuery, cursor: tuple[float, int], k: int = 10,
        field_weights: dict[str, float] | None = None,
    ) -> list[dict]:
        """Cursor (search_after) pagination at the serving tier: the
        page strictly after ``cursor`` = (score, doc_id) of the last
        served row. Warm path: zero Spark jobs — the driver scorer
        ranks the full candidate set (df-budget-bounded) and the
        keyset filter slices it; page N+1 equals rows N*k+1.. of
        query_topk's full ranking (pytest-gated). Over-budget: the
        distributed exact cursor plan (score.bm25_topk_after)."""
        gen, groups, tmeta = self._pin(query)
        if groups is None:
            return []
        s0, d0 = float(cursor[0]), int(cursor[1])
        if self._distributed(tmeta):
            top = bm25_topk_after(
                gen.readers, query, (s0, d0), k=k, field_weights=field_weights
            ).collect()
            ranked = [(r["doc_id"], r["score"], None) for r in top]
        else:
            full = gen._score_driver(
                groups, tmeta, 1 << 31, gen._fetch_postings(list(tmeta)),
                field_weights,
            )
            ranked = [
                h for h in full if h[1] < s0 or (h[1] == s0 and h[0] > d0)
            ][:k]
        return gen.hits(ranked, 1)

    def explain_topk(
        self, query: LoweredQuery, k: int = 1,
        field_weights: dict[str, float] | None = None,
    ) -> list[dict]:
        """Per-term BM25 contribution rows for the query's top-k docs —
        the serving twin of operators/score.explain_score: each doc's
        tf/dl from its OWNING shard under the global df/idf, with the
        expression the driver scorer uses (codec.bm25_contrib), so a
        doc's rows sum to its served score exactly. Rows come in rank
        order, terms ascending. Warm path: ZERO Spark jobs; over budget
        the distributed explain_score over the generation's readers."""
        gen, groups, tmeta = self._pin(query)
        if groups is None:
            return []

        def _w(t: str) -> float:
            return field_weight_of(t, field_weights) if field_weights else 1.0

        if self._distributed(tmeta):
            top_ids = [
                d for d, _, _ in
                self._ranked(gen, groups, tmeta, query, k, 0, field_weights)
            ]
            if not top_ids:
                return []
            out = [
                r.asDict()
                for r in explain_score(
                    gen.readers, query, top_ids, field_weights=field_weights
                ).collect()
            ]
            out.sort(key=lambda r: (top_ids.index(r["doc_id"]), r["term"]))
            return out
        postings = gen._fetch_postings(list(tmeta))
        out = []
        for doc_id, _score, owner in gen._score_driver(
            groups, tmeta, k, postings, field_weights
        ):
            for term in sorted(tmeta):
                d, tf, dl, _ = postings[owner][term]
                pos = int(np.searchsorted(d, doc_id))
                if pos >= d.size or int(d[pos]) != doc_id:
                    continue
                idf = float(tmeta[term]["idf"])
                contrib = float(codec.bm25_contrib(
                    tf[pos:pos + 1], dl[pos:pos + 1], idf * _w(term),
                    gen.avgdl, gen.k1, gen.b,
                )[0])
                out.append({
                    "doc_id": int(doc_id), "term": term,
                    "tf": int(tf[pos]), "dl": int(dl[pos]),
                    "df": int(tmeta[term]["df"]), "idf": idf,
                    "weight": _w(term), "contrib": contrib,
                })
        return out

    def query_positions(
        self, query: LoweredQuery, k: int = 10, offset: int = 0
    ) -> list[dict]:
        """Structurally verified results with exact match positions and
        source segments (fetch.py:14-29 projection) — the serving twin
        of operators/verify.structural_topk: tranche escalation over the
        global ranking, the driver-side matcher over each doc's OWNING
        shard's cached content."""
        from .plans.matcher import match_spans

        gen, groups, tmeta = self._pin(query)
        if groups is None:
            return []
        if self._distributed(tmeta):
            from .operators.verify import structural_topk

            rows = structural_topk(gen.readers, query, k=k, offset=offset)
            return _fold_position_rows(rows.collect(), offset)
        postings = gen._fetch_postings(list(tmeta))
        want = k + offset
        tranche = max(want * 4, 16)
        verified: list[tuple[int, float, list, int]] = []
        seen = 0
        while True:
            ranked = gen._score_driver(groups, tmeta, seen + tranche, postings)[seen:]
            if not ranked:
                break
            by_shard: dict[int, list[int]] = {}
            for doc_id, _, owner in ranked:
                by_shard.setdefault(owner, []).append(doc_id)
            fetched: dict[int, str | None] = {}
            for owner, ids in by_shard.items():
                fetched.update(gen.shards[owner].contents(ids))
            for doc_id, score, owner in ranked:
                content = fetched.get(doc_id)
                if content is None:
                    continue
                try:
                    spans = match_spans(content, query.source)
                except SyntaxError:
                    continue
                if spans:
                    verified.append((doc_id, score, spans, owner))
            seen += len(ranked)
            if len(verified) >= want or len(ranked) < tranche:
                break
            tranche *= 4
        out = []
        for rank, (doc_id, score, spans, owner) in enumerate(
            verified[offset : offset + k], start=offset + 1
        ):
            repo, path, commit = gen.doc_meta(doc_id, owner)
            first = min(s[0] for s in spans)
            first_end = max(s[2] for s in spans if s[0] == first)
            out.append(
                {"doc_id": doc_id, "repo": repo, "path": path, "score": score,
                 "rank": rank,
                 "username": username_of(repo),
                 "github_link": github_link(repo, commit, path, first, first_end),
                 "linenos": sorted({s[0] for s in spans}),
                 "matches": [
                     {"lineno": ln, "col_offset": col, "end_lineno": end_ln,
                      "segment": seg,
                      "github_link": github_link(repo, commit, path, ln, end_ln)}
                     for ln, col, end_ln, _ec, seg in spans
                 ]}
            )
        return out

    def analyze(self, query: LoweredQuery) -> dict:
        """Lowered plan + per-term global stats (the reference's POST
        /analyze, reiz/web/api.py:96-119 returns the compiled EdgeQL; we
        return the lowered CNF + index stats + chosen route)."""
        gen = self._snap
        groups = gen.resolve_groups(query)
        tmeta = gen.term_meta(sorted({t for g in groups for t in g}))
        return {
            "query": query.source,
            "groups": [list(g) for g in groups],
            "terms": {
                t: {"df": m["df"], "cf": m["cf"], "idf": m["idf"]}
                for t, m in tmeta.items()
            },
            "route": (
                "distributed-wand" if self._distributed(tmeta) else "driver-cache"
            ),
            "total_df": sum(m["df"] for m in tmeta.values()),
            "n_docs": gen.n_docs,
            "n_shards": len(gen.shards),
        }

    def statistics(self) -> dict:
        """The reference's /stats numbers (reiz/fetch.py:12,31-36 counts
        Module / AST / stmt / expr instances): derived from the
        dictionary's node: term collection frequencies — cf("node:T") is
        exactly the number of T instances across parsed files, so one
        tiny dictionary scan per shard answers all four (cf sums over
        disjoint shards)."""
        import ast as _ast

        gen = self._snap
        counts: dict[str, int] = {}
        for reader in gen.readers:
            rows = (
                reader.dictionary()
                .filter(F.col("term").startswith("node:"))
                .select("term", "cf")
                .collect()
            )
            for r in rows:
                t = r["term"][len("node:"):]
                counts[t] = counts.get(t, 0) + int(r["cf"])
        stmt_types = {c.__name__ for c in _ast.stmt.__subclasses__()}
        expr_types = {c.__name__ for c in _ast.expr.__subclasses__()}
        return {
            "Module": counts.get("Module", 0),
            "AST": sum(counts.values()),
            "stmt": sum(v for t, v in counts.items() if t in stmt_types),
            "expr": sum(v for t, v in counts.items() if t in expr_types),
            "n_docs": gen.n_docs,
            "avgdl": gen.avgdl,
        }
