"""Naive BM25 query path: pure DataFrame ops over the posting runs.

This is the correctness baseline the WAND path must match bit-for-bit
(SURVEY.md §7.2). Everything is built-in Catalyst expressions — the only
subtlety is float determinism: per-doc scores are accumulated with an
ordered fold over a term-sorted array (F.aggregate) so the summation
order matches the oracle exactly, instead of a nondeterministic
SUM() reduction order.

The module also holds what every read shares: IndexReader, the one
collection-statistics step (shard_stats / query_stats — integer sums
over a reader list, idf and avgdl derived from the sums), and the
reader-list operators built on the WAND kernels (cursor paging,
explain, facets, metadata render). One reader is the one-shard case.
"""

from __future__ import annotations

import json
import os
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lower import LoweredQuery, expand_groups
from ..schema import (
    BLOCKS_ON_DISK,
    CONTENT_ON_DISK,
    DICTIONARY_ON_DISK,
    DOCS_ON_DISK,
)
from .build import N_TERM_BUCKETS, _paths, read_runs


class IndexReader:
    """Handle to a built index directory.

    ``at_version=N`` time-travels to an earlier committed snapshot
    (reads through its immutable ``meta_v{N}.json``, the Iceberg
    metadata-log analog): the dictionary/blocks pair of that commit,
    plus its n_docs/avgdl stats, so scores reproduce exactly. Snapshots
    stay readable within the GC retention window (current + previous
    version); older snapshots raise with a clear expiry error. The
    docs/content tables are append-only — an old snapshot's doc_ids
    remain resolvable after later ingests."""

    def __init__(
        self, spark: SparkSession, index_dir: str, at_version: int | None = None
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.paths = _paths(index_dir)
        meta_path = self.paths["meta"]
        if at_version is not None:
            meta_path = os.path.join(index_dir, f"meta_v{int(at_version)}.json")
            if not os.path.exists(meta_path):
                raise FileNotFoundError(
                    f"no committed snapshot v{at_version} at {index_dir} "
                    f"(see build.snapshots() for the commit log)"
                )
        with open(meta_path) as fh:
            self.meta = json.load(fh)
        # Resolve the versioned tables through the meta SNAPSHOT just
        # read: one atomic pointer pair -> a reader never mixes a new
        # dictionary with old blocks (or vice versa) across a
        # concurrent merge commit.
        from .build import table_dir

        self.paths["dictionary"] = table_dir(index_dir, self.meta, "dictionary")
        self.paths["blocks"] = table_dir(index_dir, self.meta, "blocks")
        if at_version is not None:
            missing = [
                t for t in ("dictionary", "blocks")
                if not os.path.isdir(self.paths[t])
            ]
            if missing:
                raise FileNotFoundError(
                    f"snapshot v{at_version} is expired: {missing} data "
                    f"dirs were garbage-collected (retention is current + "
                    f"previous version)"
                )
        self._cached: dict[str, DataFrame] = {}
        # prepared-query metadata memo (the reference caches compiled
        # IR per query, reiz/ir/builder.py:54-68): term stats and LIKE
        # expansions are immutable for this reader's index snapshot, so
        # repeated/concurrent queries skip the dictionary jobs entirely.
        # Thread-safe: misses serialize behind one lock; hits are
        # lock-free dict reads of immutable values.
        import threading

        self._tmeta_memo: dict[str, dict] = {}
        self._tmeta_absent: set[str] = set()
        self._like_memo: dict[tuple[str, str], list[str]] = {}
        self._memo_lock = threading.Lock()

    def warm(self) -> "IndexReader":
        """Pin dictionary + blocks in executor memory for a query service
        — the analog of the reference's prepared queries + Redis warm
        cache (reiz/ir/builder.py:54-68, web/api.py:50-63). On a real
        cluster this is cluster-memory-resident serving; cold queries
        still work, they just pay the parquet scan."""
        schemas = {"dictionary": DICTIONARY_ON_DISK, "blocks": BLOCKS_ON_DISK}
        for name in ("dictionary", "blocks"):
            df = self.spark.read.schema(schemas[name]).parquet(self.paths[name]).persist()
            df.count()
            self._cached[name] = df
        return self

    # All reads pass EXPLICIT schemas: parquet footer inference is a
    # real job over file footers (at 10^12 run/doc files it is real
    # work), and a known shape lets Catalyst prune/push down without
    # touching data files at plan time.

    def dictionary(self) -> DataFrame:
        cached = self._cached.get("dictionary")
        if cached is not None:
            return cached
        return self.spark.read.schema(DICTIONARY_ON_DISK).parquet(
            self.paths["dictionary"]
        )

    def runs(self) -> DataFrame:
        """(batch, shard, term, doc_id, tf, dl): build.read_runs, the
        posting view over docs."""
        return read_runs(self.spark, self.index_dir)

    def blocks(self) -> DataFrame:
        cached = self._cached.get("blocks")
        if cached is not None:
            return cached
        return self.spark.read.schema(BLOCKS_ON_DISK).parquet(self.paths["blocks"])

    def docs(self) -> DataFrame:
        return self.spark.read.schema(DOCS_ON_DISK).parquet(self.paths["docs"])

    def content(self) -> DataFrame:
        """Raw-source side table — only the structural-verify stage and
        result rendering read it (doc_id IN-list pushdown); metadata
        scans never touch corpus text."""
        return self.spark.read.schema(CONTENT_ON_DISK).parquet(self.paths["content"])

    # -- deleted docs (operators/deletes.py) ---------------------------------

    def tombstones(self) -> DataFrame | None:
        """The FULL cumulative delete ledger of this reader's meta
        snapshot (folded + pending), or None. Paths that read the
        append-only runs/docs/content logs anti-join against THIS
        (those logs keep deleted rows forever); the block path needs
        only ``pending_tombstone_ids``."""
        from .deletes import read_tombstones

        return read_tombstones(self.spark, self.index_dir, self.meta)

    def pending_tombstone_ids(self):
        """Sorted int64 array of PENDING tombstones — docs deleted but
        not yet compacted out of the blocks — for the scoring kernels'
        membership test. Folded ids are already absent from blocks.
        Bounded: pending deletes between compactions are operationally
        small (the Lucene pragmatics); beyond MAX_PENDING_IDS the
        query refuses with a clear pointer to compact_deletes rather
        than shipping a bloated closure to every task."""
        import numpy as np

        from .deletes import MAX_PENDING_IDS

        cached = getattr(self, "_pending_tomb", None)
        if cached is not None:
            return cached
        n_pending = int(self.meta.get("n_tombstones_pending", 0))
        if not n_pending:
            self._pending_tomb = None
            return None
        if n_pending > MAX_PENDING_IDS:
            raise RuntimeError(
                f"{n_pending} pending deleted docs exceed the read-path "
                f"bound ({MAX_PENDING_IDS}) — run "
                f"deletes.compact_deletes({self.index_dir!r}) first"
            )
        tomb = self.tombstones()
        rows = tomb.filter(~F.col("folded")).select("doc_id").collect()
        self._pending_tomb = np.sort(
            np.array([r["doc_id"] for r in rows], dtype=np.int64)
        )
        return self._pending_tomb

    # -- query-term resolution ----------------------------------------------

    def dictionary_terms_for(self, namespace: str, regex: str) -> list[str]:
        """Expand a LIKE/ILIKE marker against the dictionary. The regex
        filter is a dictionary-only scan (tiny vs. the index) — the
        reference compiles the same thing to a LIKE over identifiers
        (reiz/ir/backends/edgeql.py:105-108). Memoized per reader (the
        expansion is immutable for this index snapshot)."""
        key = (namespace, regex)
        hit = self._like_memo.get(key)
        if hit is not None:
            return hit
        with self._memo_lock:
            hit = self._like_memo.get(key)
            if hit is not None:
                return hit
            prefix = namespace + ":"
            rows = (
                self.dictionary()
                .filter(F.col("term").startswith(prefix))
                .filter(
                    F.col("term")
                    .substr(F.lit(len(prefix) + 1), F.lit(1 << 20))
                    .rlike(regex)
                )
                .select("term")
                .collect()
            )
            out = sorted(r["term"] for r in rows)
            self._like_memo[key] = out
            return out

    def resolve_groups(self, query: LoweredQuery) -> list[tuple[str, ...]]:
        return expand_groups(query, self.dictionary_terms_for)

    def term_meta(self, terms: list[str]) -> dict[str, dict]:
        """Driver-side stats for the (few) query terms: broadcast-sized.

        Partition pruning: term_bucket = pmod(xxhash64(term), N) is
        computed driver-side with the bit-exact pure-Python xxh64
        (functions/hashing.py — parity asserted in tests), so only the
        buckets holding query terms are scanned and no extra Spark job
        is launched.

        idf is derived here, not stored (bm25_idf — the exact numpy
        expression the oracle uses, bit-identity), and the index build
        never ships the dictionary through Python.
        max_score is the analytic tf→∞ bound idf·(1+k1).

        Memoized per reader (stats are immutable for this index
        snapshot): steady-state repeated/concurrent queries pay zero
        dictionary jobs — the prepared-query shape.
        """
        missing = [
            t for t in terms
            if t not in self._tmeta_memo and t not in self._tmeta_absent
        ]
        if missing:
            with self._memo_lock:
                missing = [
                    t for t in terms
                    if t not in self._tmeta_memo and t not in self._tmeta_absent
                ]
                if missing:
                    got = self._term_meta_uncached(missing)
                    self._tmeta_memo.update(got)
                    self._tmeta_absent.update(
                        t for t in missing if t not in got
                    )
        return {t: self._tmeta_memo[t] for t in terms if t in self._tmeta_memo}

    def _term_meta_uncached(self, terms: list[str]) -> dict[str, dict]:
        buckets = self.term_buckets(terms)
        rows = (
            self.dictionary()
            .filter(F.col("term_bucket").isin(buckets))  # partition pruning
            .filter(F.col("term").isin(list(terms)))
            .select("term", "df", "cf")
            .collect()
        )
        n_docs = int(self.meta["n_docs"])
        k1 = float(self.meta["k1"])
        out = {}
        for r in rows:
            df = int(r["df"])
            idf = bm25_idf(n_docs, df)
            out[r["term"]] = {
                "term": r["term"],
                "df": df,
                "cf": int(r["cf"]),
                "idf": idf,
                "max_score": idf * (1.0 + k1),
            }
        return out

    def term_buckets(self, terms: list[str]) -> list[int]:
        from ..functions.hashing import term_bucket_of

        return sorted({term_bucket_of(t, N_TERM_BUCKETS) for t in terms})


def bm25_idf(n_docs: int, df: int) -> float:
    """np.log(1 + (N-df+0.5)/(df+0.5)) — the oracle's exact numpy
    expression (bit-identity); every engine path derives idf here."""
    import numpy as np

    n = float(n_docs)
    return float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))


def as_readers(readers: IndexReader | list[IndexReader]) -> list[IndexReader]:
    """The read operators' input normalisation: one IndexReader is the
    one-shard case of a reader list (the shards of a sharded index,
    operators/federation.py — disjoint doc sets)."""
    out = list(readers) if isinstance(readers, (list, tuple)) else [readers]
    if not out:
        raise ValueError("no index readers")
    return out


def _union_all(frames: list[DataFrame]) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def shard_stats(readers: list[IndexReader], terms: list[str]) -> dict:
    """Collection statistics of a reader list as INTEGER sums over the
    readers — n_docs, total_dl and each term's df/cf — with avgdl and
    idf derived from the sums by the single-index expressions
    (bm25_idf), so one reader reproduces that index's own stats
    bit-for-bit and N shards reproduce one index over their union.
    Refuses readers that disagree on k1/b.

    {"k1", "b", "n_docs", "total_dl", "avgdl",
     "terms": {term: {"term", "df", "cf", "idf"}}}; terms no reader
    holds are left out."""
    if not readers:
        raise ValueError("shard_stats: no shards")
    k1s = {float(r.meta["k1"]) for r in readers}
    bs = {float(r.meta["b"]) for r in readers}
    if len(k1s) != 1 or len(bs) != 1:
        raise ValueError(
            f"shards disagree on BM25 params (k1={sorted(k1s)}, "
            f"b={sorted(bs)}) — scores would be incomparable; rebuild "
            f"the outlier shard with matching k1/b"
        )
    n_docs = sum(int(r.meta["n_docs"]) for r in readers)
    total_dl = sum(int(r.meta["total_dl"]) for r in readers)
    df: dict[str, int] = {}
    cf: dict[str, int] = {}
    if terms:
        for r in readers:
            for t, m in r.term_meta(terms).items():
                df[t] = df.get(t, 0) + int(m["df"])
                cf[t] = cf.get(t, 0) + int(m["cf"])
    return {
        "k1": k1s.pop(), "b": bs.pop(), "n_docs": n_docs,
        "total_dl": total_dl,
        "avgdl": total_dl / n_docs if n_docs else 0.0,
        "terms": {
            t: {"term": t, "df": d, "cf": cf[t], "idf": bm25_idf(n_docs, d)}
            for t, d in df.items()
        },
    }


def query_stats(
    readers: list[IndexReader], query: LoweredQuery
) -> tuple[list[tuple[str, ...]], dict]:
    """(term groups, stats) of one read — the dfs phase of
    dfs_query_then_fetch and the only place a read takes its idf and
    avgdl from. Group i is the union of every reader's expansion of
    query group i (a LIKE marker must see every shard's vocabulary);
    the stats are shard_stats over the groups' terms."""
    per_reader = [r.resolve_groups(query) for r in readers]
    groups = [
        tuple(sorted({t for rg in per_reader for t in rg[i]}))
        for i in range(len(query.groups))
    ]
    return groups, shard_stats(readers, sorted({t for g in groups for t in g}))


def naive_bm25_topk(
    reader: IndexReader, query: LoweredQuery, k: int = 10,
    field_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Term-conjunction BM25 over the runs table, exact scores — the
    single-reader reference the WAND paths are rank-identity-gated
    against.

    Plan shape: pruned scan of runs (term IN ...) -> broadcast join with
    the per-term metadata (a handful of rows) -> one hash aggregate per
    doc -> TakeOrderedAndProject(k). One shuffle total.

    field_weights (BM25F): per-namespace multipliers folded into idf —
    the independent twin of wand's weighted path (rank-identity-gated).
    """
    spark = reader.spark
    groups, stats = query_stats([reader], query)
    if any(len(g) == 0 for g in groups):
        return _empty_results(spark)
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    all_terms = sorted({t for g in groups for t in g})
    tmeta = stats["terms"]
    n_groups = len(groups)

    from .wand import field_weight_of

    def _w(t: str) -> float:
        return field_weight_of(t, field_weights) if field_weights else 1.0

    qterms = spark.createDataFrame(
        [
            (t, (float(tmeta[t]["idf"]) if t in tmeta else 0.0) * _w(t),
             [i for i, g in enumerate(groups) if t in g])
            for t in all_terms
        ],
        "term string, idf double, group_ids array<int>",
    )
    p = reader.runs().filter(F.col("term").isin(all_terms))
    tomb = reader.tombstones()
    if tomb is not None:
        # docs is an append-only log that keeps deleted docs' postings;
        # exclude the FULL ledger (no broadcast hint: the cumulative
        # ledger can outgrow the broadcast threshold — let AQE pick)
        p = p.join(tomb.select("doc_id"), "doc_id", "left_anti")
    j = p.join(F.broadcast(qterms), "term")
    # exact oracle expression order (oracle.py) — do not refactor:
    contrib = (
        F.col("idf")
        * (F.col("tf") * F.lit(1.0 + k1))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
        )
    )
    scored = (
        j.withColumn("contrib", contrib)
        .groupBy("doc_id")
        .agg(
            F.aggregate(  # ordered float fold: term-ascending, like the oracle
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score"),
            F.array_distinct(F.flatten(F.collect_list("group_ids"))).alias("_gids"),
        )
        .filter(F.size("_gids") >= n_groups)  # every OR-group satisfied
        .drop("_gids")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_topk_after(
    readers: IndexReader | list[IndexReader],
    query: LoweredQuery,
    cursor: tuple[float, int],
    k: int = 10,
    field_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Cursor pagination — the Elasticsearch ``search_after`` analog
    and the scale-right deep-paging primitive: OFFSET N must rank and
    discard N+k rows on every page (the reference pages with
    LIMIT/OFFSET, reiz/fetch.py:71-81 — correct at its result sizes,
    wrong shape at 10^12 docs), while a keyset cursor prunes
    already-served rows with one filter and ranks only what remains.

    ``cursor`` = (score, doc_id) of the LAST row already served; the
    next page is every doc strictly after it in the total order
    (score DESC, doc_id ASC). Scores are deterministic bit-identical
    across executions and across shard splits (exact ascending-term
    rescore under query_stats), so the float equality in the tie-break
    is sound and the keyset filter commutes with the reader union.
    The exact candidate set (wand_scores with k=None), the filter, then
    ONE TakeOrderedAndProject — deep pages never rank the rows OFFSET
    would; page N+1 equals rows N*k+1..N*k+k of the full ranking
    (pytest-gated + oracle-checked via the OFFSET twin)."""
    from .wand import wand_scores

    s0, d0 = float(cursor[0]), int(cursor[1])
    scored = wand_scores(readers, query, k=None, field_weights=field_weights)
    return (
        scored.filter(
            (F.col("score") < F.lit(s0))
            | ((F.col("score") == F.lit(s0)) & (F.col("doc_id") > F.lit(d0)))
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def explain_score(
    readers: IndexReader | list[IndexReader],
    query: LoweredQuery,
    doc_ids: list[int],
    field_weights: dict[str, float] | None = None,
) -> DataFrame:
    """Per-term BM25 contribution breakdown for specific docs — the
    Elasticsearch `_explain` analog (the reference exposes no scoring
    introspection; this is our engine's own debugging surface). Over a
    reader list each doc's tf/dl come from its own shard under the
    summed df/idf/avgdl of query_stats, so explains sum to the scores
    of the same reader list.

    One row per (doc_id, matched query term):
    (doc_id, term, tf, dl, df, idf, weight, contrib), where
    contrib = idf * weight * tf*(1+k1) / (tf + k1*(1-b + b*dl/avgdl))
    — the EXACT arithmetic of the scoring paths (same expression as
    naive_bm25_topk / the WAND rescore), so sum(contrib) over a doc's
    rows reproduces its query score bit-for-bit when the doc satisfies
    the query (pytest-gated). Docs the query doesn't touch yield no
    rows; pending-deleted docs yield no rows (read paths must agree).

    Scale shape: term IN-list AND doc_id IN-list both push into the
    runs scan (an explain touches a handful of row groups at any corpus
    size); the per-term metadata is a broadcast of len(query terms)
    rows; no shuffle, no aggregation."""
    readers = as_readers(readers)
    spark = readers[0].spark
    empty = spark.createDataFrame(
        [], "doc_id long, term string, tf long, dl long, df long, "
            "idf double, weight double, contrib double",
    )
    if not doc_ids:
        return empty
    groups, stats = query_stats(readers, query)
    if not groups or any(len(g) == 0 for g in groups):
        return empty
    k1, b, avgdl = stats["k1"], stats["b"], stats["avgdl"]
    all_terms = sorted({t for g in groups for t in g})

    from .wand import field_weight_of

    def _w(t: str) -> float:
        return field_weight_of(t, field_weights) if field_weights else 1.0

    tmeta = stats["terms"]
    qterm_rows = [
        (t, int(tmeta[t]["df"]), float(tmeta[t]["idf"]), _w(t))
        for t in all_terms
        if t in tmeta
    ]
    if not qterm_rows:
        return empty
    qterms = spark.createDataFrame(
        qterm_rows, "term string, df long, idf double, weight double"
    )
    id_list = ",".join(str(int(x)) for x in doc_ids)
    parts = []
    for r in readers:
        p = (
            r.runs()
            .filter(F.col("term").isin(all_terms))
            # one parsed IN expression (Column.isin = py4j literal/element)
            .filter(F.expr(f"doc_id IN ({id_list})"))
        )
        tomb = r.tombstones()
        if tomb is not None:
            p = p.join(tomb.select("doc_id"), "doc_id", "left_anti")
        parts.append(p)
    contrib = (
        F.col("idf") * F.col("weight")
        * (F.col("tf") * F.lit(1.0 + k1))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl") / F.lit(avgdl)))
        )
    )
    return (
        _union_all(parts)
        .join(F.broadcast(qterms), "term")
        .select(
            "doc_id", "term", "tf", "dl", "df", "idf", "weight",
            contrib.alias("contrib"),
        )
        .orderBy("doc_id", "term")
    )


def facet_counts(
    readers: IndexReader | list[IndexReader],
    query: LoweredQuery,
    facet_col: str = "repo",
    k: int | None = None,
) -> DataFrame:
    """Exact per-facet doc counts of the query's match set — the
    search-page "group by repository / language" sidebar (Elasticsearch
    terms-aggregation analog; the reference renders per-repo hit groups
    in its result UI, reiz/web/api.py).

    (facet, n_docs) rows, count-descending. Exact, not approximate:
    the match set is every conjunction-satisfying live doc (the WAND
    kernels with pruning off — k=None returns all candidates), joined
    to the docs table's facet column and hash-aggregated. Membership is
    per-document and shards hold disjoint docs, so over a reader list
    the counts equal the facet of one index over the union corpus.
    Scale shape: one pruned blocks decode (query terms only) + one
    shuffle for the count aggregate; the docs join carries only
    (doc_id, facet)."""
    from .wand import wand_scores

    readers = as_readers(readers)
    cands = wand_scores(readers, query, k=None).select("doc_id")
    meta = _union_all([r.docs().select("doc_id", facet_col) for r in readers])
    out = (
        cands.join(meta, "doc_id")
        .groupBy(facet_col)
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc(facet_col))
    )
    return out.limit(k) if k is not None else out


def _empty_results(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], "doc_id long, score double")


def attach_doc_metadata(
    readers: IndexReader | list[IndexReader], results: DataFrame
) -> DataFrame:
    """Top-k docIDs (tiny) ⋈ docs — broadcast the RESULTS side, mirroring
    the reference's render join (reiz/fetch.py:84-114). Each doc_id
    lives in exactly one reader, so the join over the readers' docs
    yields one row per hit."""
    docs = _union_all([
        r.docs().select("doc_id", "repo", "path", "commit", "content_sha256")
        for r in as_readers(readers)
    ])
    return F.broadcast(results).join(docs, "doc_id").orderBy(F.desc("score"), F.asc("doc_id"))
