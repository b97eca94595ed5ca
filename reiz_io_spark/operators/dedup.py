"""Deduplication operators for training-data pipelines over `documents`.

Four tiers, all distributed:

- exact_dedup: sha256(text) hash-groupBy — one shuffle, scales linearly.
- ngram_jaccard_pairs: EXACT word-n-gram Jaccard via a shingle
  inverted-index self-join — the candidate join is on shingle hash, so
  only documents sharing a shingle ever meet (no O(n^2) cross join).
  Shingles with df above ``max_shingle_df`` are dropped before the
  self-join (a stop-phrase shared by 10^6 docs would otherwise create a
  10^12-row join group); the DuckDB twin applies the identical cap.
- minhash_lsh_pairs: MinHash signatures + banded LSH bucketing — the
  sublinear-candidate scale path; exact Jaccard is computed ONLY for the
  candidate pairs (never the all-pairs join), so output precision is
  exact while recall stays probabilistic (Broder '97 resemblance
  sketches, S-curve 1-(1-t^r)^b).
- simhash64: 64-bit SimHash fingerprints (Charikar '02) for
  hamming-distance near-dup detection.

Exact variants are pure built-ins (oracle-SQL twins exist); MinHash and
SimHash use Arrow-batched pandas UDFs whose inner math is fully
NumPy-vectorized across the batch (one column-wise FNV-1a pass over a
padded byte matrix, exact 61-bit Mersenne modmul in uint64 limbs,
per-doc minima via np.minimum.reduceat) — no per-row/per-byte Python.
The vectorized kernels are bit-identical to the scalar definitions
(asserted in tests/test_pipeline_ops.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from .fulltext import TOKEN_SPLIT

# Default hot-shingle cap: a shingle present in more docs than this is a
# stop-phrase and is excluded from the exact self-join (it contributes
# ~nothing to Jaccard discrimination but quadratic join rows).
MAX_SHINGLE_DF = 1000


def _upper_triangle_pairs(ids):
    """Array expr: all (doc_a, doc_b) struct pairs with doc_a < doc_b
    from a SORTED id array — the strict upper triangle, generated with
    pure array lambdas. Replaces a keyed self-join: grouping a key's
    members into one sorted list and emitting its upper triangle yields
    exactly the pair multiset the equi-self-join (a.key == b.key AND
    a.id < b.id) produced, with one exchange instead of two join sides
    (r8, guide §2.4)."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids) - i - 1),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


def exact_dedup(documents: DataFrame) -> DataFrame:
    """Canonical doc per identical text: min doc_id wins.
    (term: the reference has no dedup; this is pipeline tooling.)"""
    return (
        documents.select("doc_id", F.sha2("text", 256).alias("text_sha"))
        .groupBy("text_sha")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def chunk_dedup(documents: DataFrame, w: int = 12) -> DataFrame:
    """Chunk-granular exact dedup — the unit LLM training pipelines
    dedup at (fixed token-window chunks, not whole documents): a
    boilerplate block repeated across many otherwise-distinct docs is
    caught here and missed by whole-doc dedup.

    Each doc's token stream splits into ceil(len/w) w-token chunks;
    duplicated chunks (seen >1 time corpus-wide) are reported with
    their multiplicity, distinct-doc spread, and the canonical keeper
    (min doc_id). Map-side: tokenize + chunk inside one projection
    (zero UDF); ONE shuffle on the chunk hash. At 100 TB the groupBy
    carries (hash, doc_id, chunk_no) rows — never the chunk text
    (hashed before the exchange).

    Output: (chunk_md5, n_copies, n_docs, keep_doc_id), duplicated
    chunks only."""
    toks = documents.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), TOKEN_SPLIT), lambda x: x != "").alias("t"),
    ).filter(F.size("t") > 0)
    n_chunks = F.ceil(F.size("t") / F.lit(float(w))).cast("int")
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_chunks - 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice("t", i * w + 1, w))),
            )
        ).alias("chunk_no", "chunk_md5"),
    )
    return (
        chunks.groupBy("chunk_md5")
        .agg(
            F.count("*").alias("n_copies"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def chunk_dedup_sql(w: int = 12) -> str:
    """DuckDB twin of chunk_dedup (same tokenizer regex, same chunking
    arithmetic, same md5)."""
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS t
  FROM documents
),
chunks AS (
  SELECT doc_id, i AS chunk_no,
         md5(array_to_string(t[(i*{w}+1):(i*{w}+{w})], ' ')) AS chunk_md5
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(t)/{float(w)!r}) AS INT) - 1)) AS u(i)
  WHERE len(t) > 0
)
SELECT chunk_md5, count(*) AS n_copies,
       count(DISTINCT doc_id) AS n_docs, min(doc_id) AS keep_doc_id
FROM chunks GROUP BY chunk_md5 HAVING count(*) > 1
"""


def word_shingles(documents: DataFrame, n: int = 3) -> DataFrame:
    """doc_id, shingle (distinct word n-grams, '_'-joined)."""
    toks = documents.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), TOKEN_SPLIT), lambda x: x != "").alias("t"),
    )
    idx = F.sequence(F.lit(0), F.size("t") - F.lit(n))
    sh = toks.filter(F.size("t") >= n).select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.concat_ws("_", F.slice("t", i + 1, n)),
            )
        ).alias("shingle"),
    )
    return sh.distinct()


def ngram_jaccard_pairs(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact Jaccard >= threshold pairs via shingle-join.

    |A ∩ B| from the inverted shingle index; |A ∪ B| = |A|+|B|-|A∩B|.
    Shuffles: one explode+distinct, one self-join keyed on shingle
    (co-partitioned, no broadcast of the big side), one pair-agg.
    Doc sizes |A| count ALL shingles; only the join side drops
    stop-shingles (df > max_shingle_df), so a capped pair's Jaccard is a
    slight underestimate (documented recall tradeoff; at the default cap
    it binds only on corpora with >1000-doc stop-phrases).
    """
    # r8 shape (guide §1 measure-first + §2.3/§2.4), re-measured on a
    # driver-shaped dense corpus (50k docs, 31-word vocab, 224M
    # co-occurrence rows, 100M distinct candidate pairs):
    # (1) the per-doc DISTINCT shingle ARRAY is materialized ONCE via
    #     .persist() of (doc_id, sh_arr) — 50k tiny rows; the
    #     interpreted HOF shingle expression (transform + concat_ws +
    #     array_distinct, CodegenFallback) runs exactly once per doc
    #     instead of once per consumer branch, and the cache boundary
    #     stops InferFiltersFromGenerate from cloning the HOF into
    #     pushed-down filters (the r8-measured 80 s failure mode).
    #     persist (not localCheckpoint): cached relations are freed by
    #     catalog.clearCache()/ContextCleaner promptly — lazy
    #     checkpoint blocks lingered past the entry and taxed every
    #     later job's heap (measured on the full bench sequence);
    # (2) |A| rides the rows (size of the array, map-side), so the
    #     Jaccard arithmetic needs NO trailing sizes joins — na/nb are
    #     group keys of the pair count;
    # (3) SIZE-COMPATIBILITY prefilter inside the self-join:
    #     J(A,B) >= t implies |B| <= |A|/t and |A| <= |B|/t, so pairs
    #     violating the size-ratio bound are dropped BEFORE the pair
    #     exchange + 100M-group count aggregation (the measured wall —
    #     the agg barely reduces: 1.1 co-occurrences per candidate
    #     pair). Provably output-identical: every dropped pair has
    #     J < t and could never survive the final filter.
    # (4) the hot-shingle cap keeps df ∈ [2, cap]: df=1 shingles join
    #     only themselves (killed by doc_a < doc_b) — identical output,
    #     fewer join rows.
    # An exact PPJoin prefix-filter variant (rarest-first prefixes +
    # array_intersect verify) was built in r8, proven output-identical,
    # and REJECTED by measurement: on dense corpora ~half the candidate
    # pairs survive the prefix filter and the per-candidate interpreted
    # verify costs 174 s — the codegen count aggregation is the right
    # primitive when candidate sets are dense.
    from .fulltext import spread_parallelism

    if not 0.0 < threshold <= 1.0:
        raise ValueError("ngram_jaccard_pairs: threshold must be in (0, 1]")
    d32 = spread_parallelism(documents)
    arr = d32.select(
        "doc_id", _shingle_array(n).alias("sh_arr")
    ).persist()
    try:
        sh = arr.select(
            "doc_id",
            F.size("sh_arr").alias("n_sh"),
            F.explode("sh_arr").alias("shingle"),
        )
        dfs = sh.groupBy("shingle").agg(F.count("*").alias("sh_df")).filter(
            F.col("sh_df") >= 2
        )
        if max_shingle_df is not None:
            dfs = dfs.filter(F.col("sh_df") <= max_shingle_df)
        joinable = sh.join(dfs.select("shingle"), "shingle")
        a = joinable.alias("a")
        b = joinable.alias("b")
        # float bound with slack: size-compat is nb*t <= na <= nb/t. The
        # final filter compares the 6-dp ROUNDED jaccard (round can lift a
        # true J by up to 5e-7) and float ratio arithmetic wobbles at 1e-16,
        # so the bound backs off by 1e-6: a pair is removed only when
        # J <= min/max < t - 1e-6, whose rounded value is still < t — the
        # filter can never remove a pair the unfiltered plan would emit.
        tb = float(threshold) - 1e-6
        inter = (
            a.join(b, F.col("a.shingle") == F.col("b.shingle"))
            .filter(
                (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.col("a.n_sh") >= F.col("b.n_sh") * tb)
                & (F.col("b.n_sh") >= F.col("a.n_sh") * tb)
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.n_sh").alias("na"),
                F.col("b.n_sh").alias("nb"),
            )
            .agg(F.count("*").alias("inter"))
        )
        pairs = (
            inter.withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b", "jaccard")
        )
        # materialized here so the cache is released before returning
        # (a lazy result would re-run the shingle HOF per consumer once
        # the cache is gone); one Arrow round trip of the pair set
        out = pairs.toArrow()
    finally:
        arr.unpersist()
    return documents.sparkSession.createDataFrame(out, pairs.schema)


def ngram_jaccard_pairs_sql(
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> str:
    """DuckDB oracle twin of ngram_jaccard_pairs (same hot-shingle cap)."""
    cap_pred = (
        f"WHERE shingle NOT IN (SELECT shingle FROM sh GROUP BY shingle"
        f" HAVING count(*) > {max_shingle_df})"
        if max_shingle_df is not None
        else ""
    )
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(lower(text), '{TOKEN_SPLIT}'), x -> x <> '') AS t
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id,
         array_to_string(t[i+1:i+{n}], '_') AS shingle
  FROM toks, unnest(range(0, len(t) - {n} + 1)) AS u(i)
  WHERE len(t) >= {n}
),
joinable AS (SELECT doc_id, shingle FROM sh {cap_pred}),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM joinable a JOIN joinable b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter / (sa.n_sh + sb.n_sh - inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(inter / (sa.n_sh + sb.n_sh - inter), 6) >= {threshold}
"""


# --- vectorized hash kernels -------------------------------------------------

_MERSENNE = (1 << 61) - 1
_MAX_HASH = (1 << 32) - 1
_M61 = np.uint64(_MERSENNE)
_FNV_OFFSET = np.uint64(0xCBF29CE484222325)
_FNV_PRIME = np.uint64(0x100000001B3)
_LOW32 = np.uint64(0xFFFFFFFF)


def _fnv1a64(s: str) -> int:
    """Scalar reference definition (tests assert the batch kernel
    matches it bit-for-bit)."""
    h = 0xCBF29CE484222325
    for byte in s.encode("utf-8"):
        h ^= byte
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def fnv1a64_batch(strings: list[str]) -> np.ndarray:
    """FNV-1a 64 over a batch of strings, column-vectorized: the Python
    loop runs over byte POSITIONS (max string length, ~tens), never over
    strings or bytes. Bit-identical to _fnv1a64."""
    n = len(strings)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bs = [s.encode("utf-8") for s in strings]
    lens = np.fromiter((len(x) for x in bs), dtype=np.int64, count=n)
    h = np.full(n, _FNV_OFFSET, dtype=np.uint64)
    if not lens.any():
        return h
    flat = np.frombuffer(b"".join(bs), dtype=np.uint8)
    offs = np.concatenate(([0], np.cumsum(lens)))[:-1]
    # active-rows column sweep: iteration j touches only strings longer
    # than j — total element work == total bytes, no (n x maxlen) matrix
    active = np.flatnonzero(lens > 0)
    j = 0
    with np.errstate(over="ignore"):
        while active.size:
            byte = flat[offs[active] + j].astype(np.uint64)
            h[active] = (h[active] ^ byte) * _FNV_PRIME
            j += 1
            active = active[lens[active] > j]
    return h


def _red61(v: np.ndarray) -> np.ndarray:
    """Partial reduction mod 2^61-1 (uint64 in, < 2^61 + eps out)."""
    v = (v & _M61) + (v >> np.uint64(61))
    return (v & _M61) + (v >> np.uint64(61))


def modmul_p61(a: int, x: np.ndarray) -> np.ndarray:
    """Exact (a * x) mod (2^61-1) for a < 2^61 and uint64 array x,
    computed in 32-bit limbs so nothing overflows uint64 — equal to
    Python-int (a*x) % _MERSENNE (tests assert this)."""
    a1 = np.uint64(a >> 32)
    a0 = np.uint64(a & 0xFFFFFFFF)
    x1 = x >> np.uint64(32)
    x0 = x & _LOW32
    # a*x = a1*x1*2^64 + (a1*x0 + a0*x1)*2^32 + a0*x0 ; 2^64 ≡ 8 (mod p)
    p11 = _red61(a1 * x1)  # < 2^61 + 1
    t_hi = _red61(np.uint64(8) * p11)
    mid = _red61(a1 * x0) + _red61(a0 * x1)  # < 2^62
    # mid * 2^32 mod p: mid = mh*2^29 + ml  ->  mh*2^61 + ml*2^32 ≡ mh + ml*2^32
    mh = mid >> np.uint64(29)
    ml = mid & np.uint64((1 << 29) - 1)
    t_mid = _red61(mh + (ml << np.uint64(32)))
    t_lo = _red61(a0 * x0)
    total = _red61(t_hi + t_mid + t_lo)
    return np.where(total >= _M61, total - _M61, total)


def minhash_from_hashes(
    hs: np.ndarray, offsets: np.ndarray, a_params, b_params
) -> np.ndarray:
    """(n_docs, n_hashes) signature matrix from concatenated shingle
    hashes + doc offsets. sig[d,k] = min over doc d's shingles of
    ((a_k*h + b_k) mod 2^61-1) mod 2^32 — identical to the scalar
    definition; minima via np.minimum.reduceat (no per-doc Python)."""
    n_hashes = len(a_params)
    n_docs = offsets.size - 1
    sig = np.empty((n_docs, n_hashes), dtype=np.int64)
    starts = offsets[:-1]
    empty = offsets[1:] == starts
    safe_starts = np.minimum(starts, max(hs.size - 1, 0))
    # hoist the 32-bit limb split of the shingle hashes out of the
    # per-hash loop (the a-dependent half of modmul_p61 stays inside)
    x1 = hs >> np.uint64(32)
    x0 = hs & _LOW32
    for k in range(n_hashes):
        if hs.size == 0:
            sig[:, k] = _MAX_HASH
            continue
        a = int(a_params[k])
        a1 = np.uint64(a >> 32)
        a0 = np.uint64(a & 0xFFFFFFFF)
        p11 = _red61(a1 * x1)
        t_hi = _red61(np.uint64(8) * p11)
        mid = _red61(a1 * x0) + _red61(a0 * x1)
        mh = mid >> np.uint64(29)
        ml = mid & np.uint64((1 << 29) - 1)
        t_mid = _red61(mh + (ml << np.uint64(32)))
        t_lo = _red61(a0 * x0)
        total = _red61(t_hi + t_mid + t_lo)
        vals = np.where(total >= _M61, total - _M61, total) + np.uint64(
            int(b_params[k])
        )
        vals = np.where(vals >= _M61, vals - _M61, vals) & _LOW32
        mins = np.minimum.reduceat(vals, safe_starts)
        sig[:, k] = np.where(empty, np.uint64(_MAX_HASH), mins).astype(np.int64)
    return sig


def _minhash_params(n_hashes: int, seed: int = 42):
    rng = np.random.RandomState(seed)
    a = rng.randint(1, _MERSENNE, size=n_hashes, dtype=np.int64).astype(object)
    b = rng.randint(0, _MERSENNE, size=n_hashes, dtype=np.int64).astype(object)
    return a, b


def _py_shingles(text: str, n: int) -> list[str]:
    """Pure-Python twin of word_shingles for ONE document: distinct
    '_'-joined word n-grams. Split semantics match Spark's
    F.split(F.lower(text), TOKEN_SPLIT) exactly for the `[^a-z0-9]+`
    pattern (ASCII lower + same split/empty-filter behavior)."""
    import re

    toks = [t for t in re.split(TOKEN_SPLIT, text.lower()) if t]
    if len(toks) < n:
        return []
    return list({"_".join(toks[i : i + n]) for i in range(len(toks) - n + 1)})


def _flatten_shingle_lists(shingle_lists) -> tuple[np.ndarray, np.ndarray]:
    """Concatenate a batch of shingle lists -> (all shingles' FNV hashes,
    per-doc offsets into them)."""
    counts = np.fromiter(
        (0 if s is None else len(s) for s in shingle_lists),
        dtype=np.int64,
        count=len(shingle_lists),
    )
    offsets = np.concatenate(([0], np.cumsum(counts)))
    flat: list[str] = []
    for s in shingle_lists:
        if s is not None and len(s):
            flat.extend(s)
    return fnv1a64_batch(flat), offsets


def minhash_signatures(
    documents: DataFrame, n_hashes: int = 64, shingle_n: int = 3, seed: int = 42
) -> DataFrame:
    """doc_id, sig array<long> — (a*x+b mod p) permutation minima over
    shingle hashes.

    MAP-ONLY: shingling + hashing + minima all happen inside one Arrow
    batch per partition (_py_shingles + fnv1a64_batch +
    minhash_from_hashes) — no explode, no groupBy, ZERO shuffles. At
    10^9 docs the signature stage is a single pass over the text column;
    the only shuffles in the whole LSH path are the (n_docs x bands)-row
    bucket join and the candidate-pair verification.

    If the input has fewer partitions than cores (e.g. one small parquet
    file locally), it is repartitioned so the UDF actually uses the
    cluster — on real multi-file inputs this is a no-op."""
    a_params, b_params = _minhash_params(n_hashes, seed)
    par = documents.sparkSession.sparkContext.defaultParallelism
    if documents.rdd.getNumPartitions() < par:
        documents = documents.repartition(par)

    @pandas_udf(ArrayType(LongType()))
    def sig_udf(texts: pd.Series) -> pd.Series:
        sh_lists = [_py_shingles(t or "", shingle_n) for t in texts]
        hs, offsets = _flatten_shingle_lists(sh_lists)
        sig = minhash_from_hashes(hs, offsets, a_params, b_params)
        # shingle-less docs get an EMPTY signature (not a constant one —
        # constant sigs would band every empty doc into one bucket and
        # explode the candidate join); banding filters them out.
        # rows stay numpy (Arrow converts ndarray rows directly — no
        # per-element Python int boxing)
        empty = np.empty(0, dtype=np.int64)
        return pd.Series(
            [sig[i] if sh_lists[i] else empty for i in range(len(sh_lists))]
        )

    # asNondeterministic (guide §4.4, measured r8): the caller filters
    # on size(sig) > 0, and the optimizer otherwise DUPLICATES the UDF
    # below the pushed-down filter — with the duplicate sitting under
    # the repartition, i.e. the whole signature kernel re-ran at the
    # 2-partition input parallelism (16.6 s vs ~2 s for the single
    # 32-way evaluation). The function is in fact deterministic; the
    # flag only forbids the optimizer from copying/reordering it.
    return documents.select(
        "doc_id", sig_udf.asNondeterministic()("text").alias("sig")
    )


def _shingle_array(n: int):
    """Column expr: distinct word-n-gram shingle ARRAY for the `text`
    column (same semantics as word_shingles, kept as one array instead
    of exploded rows). Pure built-ins — stays in whole-stage codegen."""
    toks = F.filter(F.split(F.lower("text"), TOKEN_SPLIT), lambda x: x != "")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - F.lit(n)),
        lambda i: F.concat_ws("_", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def jaccard_for_pairs(
    documents: DataFrame, pairs: DataFrame, n: int = 3
) -> DataFrame:
    """Exact Jaccard computed ONLY for the given (doc_a, doc_b) pairs.

    Cost is proportional to the candidate docs' shingle sets, never the
    corpus: the DOCS table is semi-join-pruned to candidate docs BEFORE
    shingling. Each candidate doc keeps its distinct shingle set as ONE
    array row, and each pair is resolved with exactly two equi-joins
    (pairs ⋈ shingles(doc_a) ⋈ shingles(doc_b)) followed by a JVM-side
    `array_intersect` — no shingle explode, no per-pair aggregation
    shuffle, no Python. |A ∪ B| = |A|+|B|-|A∩B|. (Earlier versions used
    an exploded inverted-index chain — ~6 shuffles for the same answer;
    this is 3 narrow joins and benches ~4x faster at sf0.1.)
    """
    cand_docs = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    from .fulltext import spread_parallelism

    sh = (
        spread_parallelism(documents.join(cand_docs, "doc_id", "left_semi"))
        .select("doc_id", _shingle_array(n).alias("sh"))
    )
    sh_a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter / union, 6).alias("jaccard"),
        )
    )


def minhash_lsh_pairs(
    documents: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    threshold: float = 0.5,
    seed: int = 42,
    prefilter_margin: float | None = 0.15,
) -> DataFrame:
    """LSH candidates (band-bucket join) verified with exact Jaccard
    computed on the CANDIDATE PAIRS ONLY (jaccard_for_pairs) — the
    quadratic shingle self-join is never invoked, so this path is
    sublinear end to end.

    Scale path: band explode is n_docs*bands rows; the bucket self-join
    only pairs docs agreeing on a whole band. Output: exact-verified
    pairs (doc_a, doc_b, jaccard) — precision 1.0, recall ~ S-curve
    1-(1-t^r)^b. Verification uses the uncapped exact Jaccard (candidate
    pair counts are tiny, no hot-shingle risk).

    Signature-estimate prefilter: before the exact verify, each
    candidate pair's Jaccard is ESTIMATED from the signatures already in
    hand (mean(sig_a[k]==sig_b[k]) — the unbiased MinHash estimator) via
    a JVM-side zip_with, and pairs with estimate < threshold -
    prefilter_margin are dropped without ever being shingled. With
    n_hashes=64 the estimator's std at j=t is sqrt(t(1-t)/64) <= 0.0625,
    so the default margin (0.15 = 2.4 sigma) keeps recall while pruning
    the low-jaccard candidates the S-curve admits (b=16/r=4 at t=0.5
    admits pairs down to j~0.2). Pass None to disable."""
    rows_per_band = n_hashes // bands
    # localCheckpoint: the banded self-join and the verification both
    # reference the signature table several times; without truncating
    # the lineage every branch re-runs the signature UDF over the whole
    # corpus. Checkpointed data lives on executors (memory+disk) and is
    # freed by the ContextCleaner when the plan is GC'd.
    sigs = (
        minhash_signatures(documents, n_hashes, shingle_n, seed)
        .filter(F.size("sig") > 0)
        .localCheckpoint(eager=False)
    )
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.xxhash64(
                    F.slice("sig", bi * rows_per_band + 1, rows_per_band).cast(
                        "string"
                    )
                ),
            )
        ).alias("band", "bucket"),
    )
    # r8: the banded self-join (two shuffled sides + a join) is replaced
    # by ONE groupBy per (band, bucket) whose sorted member list emits
    # its upper triangle (_upper_triangle_pairs) — identical candidate
    # pair set, one exchange fewer (guide §2.4).
    candidates = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(_upper_triangle_pairs(F.col("ids"))).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    if prefilter_margin is not None:
        sig_a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"))
        sig_b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"))
        est = F.size(
            F.filter(F.zip_with("sa", "sb", lambda x, y: x == y), lambda e: e)
        ) / F.lit(float(n_hashes))
        candidates = (
            candidates.join(sig_a, "doc_a")
            .join(sig_b, "doc_b")
            .filter(est >= max(0.0, threshold - prefilter_margin))
            .select("doc_a", "doc_b")
        )
    # reused 3x by the verification join (cand_docs union + pair join)
    candidates = candidates.localCheckpoint(eager=False)
    return jaccard_for_pairs(documents, candidates, n=shingle_n).filter(
        F.col("jaccard") >= threshold
    )


# --- SimHash -----------------------------------------------------------------


def simhash_from_hashes(hs: np.ndarray, offsets: np.ndarray) -> np.ndarray:
    """int64 simhash per doc from concatenated shingle hashes: majority
    vote per bit, vectorized with np.add.reduceat over doc boundaries."""
    n_docs = offsets.size - 1
    if n_docs == 0:
        return np.empty(0, dtype=np.int64)
    starts = offsets[:-1]
    empty = offsets[1:] == starts
    if hs.size == 0:
        return np.zeros(n_docs, dtype=np.int64)
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
        np.int64
    )
    votes = 2 * bits - 1  # (n_shingles, 64)
    acc = np.add.reduceat(votes, np.minimum(starts, hs.size - 1), axis=0)
    vals = ((acc > 0).astype(np.uint64) << np.arange(64, dtype=np.uint64)).sum(
        axis=1, dtype=np.uint64
    )
    vals = np.where(empty, np.uint64(0), vals)
    return vals.view(np.int64)


def simhash64(documents: DataFrame, shingle_n: int = 2) -> DataFrame:
    """doc_id, simhash (64-bit, as signed long) over word shingles.
    Map-only like minhash_signatures — zero shuffles."""

    @pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        sh_lists = [_py_shingles(t or "", shingle_n) for t in texts]
        hs, offsets = _flatten_shingle_lists(sh_lists)
        return pd.Series(simhash_from_hashes(hs, offsets), dtype="int64")

    return documents.select("doc_id", sim_udf("text").alias("simhash"))


# --- near-dup clusters (connected components) ----------------------------------


def dup_clusters(
    documents: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
    max_iter: int = 50,
) -> DataFrame:
    """(doc_id, cluster_id): connected components over the near-dup pair
    graph — the canonicalization step of a training-data dedup pipeline
    (keep min-doc_id per cluster, drop the rest).

    Distributed min-label propagation: every doc starts labeled with its
    own id; each round takes the min label across neighbors; terminates
    when no label changes (rounds <= component diameter — near-dup
    components are shallow). Labels are localCheckpoint'ed per round so
    the plan doesn't grow with iterations; each round is one join +
    one aggregate on the EDGE set (tiny relative to the corpus), never a
    corpus-sized shuffle. Docs with no near-dup edge keep cluster_id ==
    doc_id. Exact-SQL twin: a recursive CTE (dup_clusters_sql)."""
    pairs = ngram_jaccard_pairs(
        documents, n=n, threshold=threshold, max_shingle_df=max_shingle_df
    ).select("doc_a", "doc_b")
    edges = pairs.unionByName(
        pairs.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    ).localCheckpoint(eager=False)  # reused every round

    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint(eager=False)
    for _ in range(max_iter):
        neigh = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("cluster_id").alias("nb_cluster"),
                ),
                "doc_b",
            )
            .groupBy("doc_a")
            .agg(F.min("nb_cluster").alias("nb_min"))
        )
        updated = (
            labels.join(neigh, labels.doc_id == neigh.doc_a, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("cluster_id"), F.coalesce("nb_min", F.col("cluster_id"))
                ).alias("cluster_id"),
                (F.coalesce("nb_min", F.col("cluster_id")) < F.col("cluster_id"))
                .cast("int")
                .alias("changed"),
            )
            .localCheckpoint(eager=False)
        )
        n_changed = updated.agg(F.sum("changed")).collect()[0][0] or 0
        labels = updated.select("doc_id", "cluster_id").localCheckpoint(eager=False)
        if n_changed == 0:
            break
    singletons = documents.select("doc_id").join(
        labels, "doc_id", "left_anti"
    ).select("doc_id", F.col("doc_id").alias("cluster_id"))
    return labels.unionByName(singletons)


def dup_clusters_sql(
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = MAX_SHINGLE_DF,
) -> str:
    """DuckDB oracle twin: recursive CTE computing, per doc, the minimum
    doc id reachable in the near-dup graph (== min-label fixpoint)."""
    pairs_sql = ngram_jaccard_pairs_sql(n, threshold, max_shingle_df)
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs
),
reach(src, node) AS (
  SELECT doc_a AS src, doc_a AS node FROM edges
  UNION
  SELECT r.src, e.doc_b AS node
  FROM reach r JOIN edges e ON r.node = e.doc_a
),
clustered AS (SELECT src AS doc_id, min(node) AS cluster_id FROM reach GROUP BY src)
SELECT d.doc_id AS doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id
FROM documents d LEFT JOIN clustered c ON d.doc_id = c.doc_id
"""
