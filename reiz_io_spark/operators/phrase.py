"""Positional postings, exact phrase match, and pairwise proximity
(NEAR/k) over the generic documents table.

The reference engine's index is term-level only (reiz/database.py FTS
over flattened AST terms); phrase/proximity is the standard next rung
of a fulltext index tier, so it is implemented here as a first-class
operator family with exact DuckDB twins.

Shapes (all zero-UDF, whole-stage codegen end to end):

- ``positional_postings``: (term, doc_id, pos) via posexplode — the
  on-disk layout a positional index would persist. At 100 TB this is
  the only corpus-sized relation; everything below filters it to the
  query's terms FIRST (predicate pushdown to the scan) before any
  shuffle, so per-query cost is proportional to the matched postings,
  never the corpus.
- ``phrase_match``: inverted-index evaluation — postings are filtered
  to the phrase's terms, grouped once per doc into per-term sorted
  position arrays (ONE shuffle on doc_id), then adjacency is a pure
  Catalyst array expression: start positions p of term0 such that
  every arr_i contains p+i. No self-join chain (a k-term phrase as
  k-1 positional equi-joins would be k-1 shuffles; this is one).
- ``phrase_topk``: BM25 over the *phrase* as a derived term — tf =
  number of phrase occurrences, df = docs containing the phrase,
  doclen unchanged. Same k1/b/idf constants as the engine.
- ``proximity_match``: NEAR/slop for a term pair — exists p_a, p_b
  with |p_a - p_b| <= slop, again per-doc arrays + one array lambda.

Tokenization contract is shared verbatim with fulltext.py / the oracle
SQL: non-empty pieces of regexp_split(lower(text), '[^a-z0-9]+').
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import BM25_B, BM25_K1
from .fulltext import TOKEN_SPLIT, tokens


def positional_postings(documents: DataFrame) -> DataFrame:
    """(term, doc_id, pos) — pos is the 0-based token index.

    The positional analog of ``fulltext.postings``; one posexplode, no
    aggregation (positions are the payload, not a count).
    """
    return (
        tokens(documents)
        .select("doc_id", F.posexplode("toks").alias("pos", "term"))
        .select("term", "doc_id", F.col("pos").cast("long").alias("pos"))
    )


def _position_cols(terms: list[str]) -> list:
    """One ascending position-array column per phrase slot
    (`p0`..`p{n-1}`) over a `toks` array column — pure array lambdas,
    so the whole per-term-positions shape is MAP-ONLY (r8: the old
    posexplode + groupBy/collect_list pivot paid a corpus-sized
    explode and a doc_id exchange for the same arrays; guide §2.4).
    Ascending by construction (transform preserves token order), which
    is exactly what array_sort(collect_list(pos)) produced."""
    indexed = F.transform(
        F.col("toks"),
        lambda x, j: F.struct(j.cast("long").alias("pos"), x.alias("tok")),
    )
    return [
        F.transform(
            F.filter(indexed, lambda s: s["tok"] == F.lit(t)),
            lambda s: s["pos"],
        ).alias(f"p{i}")
        for i, t in enumerate(terms)
    ]


def _per_term_positions(documents: DataFrame, terms: list[str]) -> DataFrame:
    """doc_id + one sorted position array column per phrase slot
    (`p0`..`p{n-1}`), docs restricted to those containing ALL terms.

    Zero shuffles: positions come straight off the token array in one
    projection (_position_cols). Duplicate terms in the phrase are fine
    — each slot i filters on terms[i] independently.
    """
    from .fulltext import spread_parallelism

    grouped = tokens(spread_parallelism(documents)).select(
        "doc_id", *_position_cols(terms)
    )
    cond = None
    for i in range(len(terms)):
        c = F.size(f"p{i}") > 0
        cond = c if cond is None else (cond & c)
    return grouped.filter(cond)


def _phrase_regex_tf(phrase: list[str]):
    """Column expr: exact adjacent-token phrase count via ONE compiled
    regex over the separator-normalized text (r8, guide §1.2/§4):
    tokens are maximal [a-z0-9]+ runs of the lowered text, so collapsing
    every separator run to a single space (with sentinel spaces at the
    ends) makes "adjacent tokens" == "space-joined substring". The
    match is FULLY zero-width — '(?<= )(?=t0 t1 ... tn )' asserts the
    phrase (with its trailing separator) from each post-space position
    without consuming anything — so OVERLAPPING starts all count (a
    consuming pattern undercounts self-overlapping phrases like (a, a)
    over tokens a a a: 1 instead of the position-array formulation's
    2). Replaces ~200 interpreted array-lambda element-ops per doc with
    one codegen regex pass. Only valid when every term is a possible
    token ([a-z0-9]+)."""
    norm = F.concat(
        F.lit(" "),
        F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "),
        F.lit(" "),
    )
    return F.regexp_count(
        norm, F.lit("(?<= )(?=%s )" % " ".join(phrase))
    ).cast("long")


def _all_alnum_terms(phrase: list[str]) -> bool:
    import re

    return all(re.fullmatch("[a-z0-9]+", t) for t in phrase)


def phrase_match(documents: DataFrame, phrase: list[str]) -> DataFrame:
    """(doc_id, phrase_tf) — exact adjacent-token phrase occurrences.

    phrase_tf counts start positions p in term0's postings where every
    later slot i has p+i in its position set.
    """
    if not phrase:
        raise ValueError("empty phrase")
    if _all_alnum_terms(phrase):
        from .fulltext import spread_parallelism

        return (
            spread_parallelism(documents)
            .select("doc_id", _phrase_regex_tf(phrase).alias("phrase_tf"))
            .filter(F.col("phrase_tf") > 0)
        )
    # a term that is not a possible token ([a-z0-9]+) can never equal
    # any token — keep the defining position-array path for that edge
    g = _per_term_positions(documents, phrase)

    def _continues(i: int):
        # keep start positions whose i-th continuation exists
        return lambda p: F.array_contains(F.col(f"p{i}"), p + i)

    starts = F.col("p0")
    for i in range(1, len(phrase)):
        starts = F.filter(starts, _continues(i))
    return (
        g.select("doc_id", F.size(starts).cast("long").alias("phrase_tf"))
        .filter(F.col("phrase_tf") > 0)
    )


def phrase_topk(
    documents: DataFrame, phrase: list[str], k: int = 10
) -> DataFrame:
    """BM25 top-k treating the exact phrase as one derived term.

    idf/df come from the phrase's own document frequency; dl is the
    doc's full token length (standard phrase scoring). Deterministic
    tiebreak on doc_id.
    """
    # r8 fused shape: phrase_tf AND dl come out of ONE map-only pass
    # (the old plan ran the corpus explode three times — m.count() for
    # df, the m plan again for rows, plus a tokens() join for dl — and
    # paid a doc_id exchange). The matched set (docs with phrase_tf >
    # 0) is tiny; it is persisted once so the df count and the final
    # ranking share the single pass, and released before returning (the
    # top-k rows are collected here, so no cached block outlives the
    # call). phrase_tf itself is
    # the one-regex count (_phrase_regex_tf) when every term is a
    # possible token, with the position-array formulation kept as the
    # defining fallback; dl is the quality_score token-run count —
    # both whole-stage codegen, no interpreted array lambdas.
    from .fulltext import spread_parallelism

    d = spread_parallelism(documents)
    if _all_alnum_terms(phrase):
        dl = F.regexp_count(
            F.lower(F.col("text")), F.lit("[a-z0-9]+")
        ).cast("long")
        m = (
            d.select(
                "doc_id",
                _phrase_regex_tf(phrase).alias("phrase_tf"),
                dl.alias("dl"),
            )
            .filter(F.col("phrase_tf") > 0)
        )
    else:
        g = tokens(d).select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            *_position_cols(phrase),
        )

        def _continues(i: int):
            return lambda p: F.array_contains(F.col(f"p{i}"), p + i)

        starts = F.col("p0")
        for i in range(1, len(phrase)):
            starts = F.filter(starts, _continues(i))
        m = (
            g.select(
                "doc_id",
                F.size(starts).cast("long").alias("phrase_tf"),
                "dl",
            )
            .filter(F.col("phrase_tf") > 0)
        )
    # memoized per corpus snapshot (fulltext.corpus_stats): avg(dl)
    # over all docs == sum(len(toks))/count in exact IEEE terms, so
    # reusing the shared memo changes nothing vs the DuckDB twin and
    # drops two of this query's three driver-side actions on repeats
    from .fulltext import corpus_stats

    n_docs, avgdl = corpus_stats(documents)
    m = m.persist()
    try:
        df = m.count()
        import math

        idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
        tf = F.col("phrase_tf").cast("double")
        denom = tf + BM25_K1 * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
        score = F.lit(idf) * tf * (BM25_K1 + 1.0) / denom
        top = (
            m.select(
                "doc_id",
                "phrase_tf",
                F.round(score, 6).alias("score"),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        rows = top.collect()
    finally:
        m.unpersist()
    return documents.sparkSession.createDataFrame(rows, top.schema)


def proximity_match(
    documents: DataFrame, term_a: str, term_b: str, slop: int
) -> DataFrame:
    """(doc_id, min_dist) — docs where term_a and term_b co-occur
    within ``slop`` token positions (|pos_a - pos_b| <= slop, the
    classic NEAR/k). min_dist is the closest observed distance.

    Per-doc O(|a|*|b|) inside one Catalyst array lambda — positions
    per term per doc are tiny; the corpus-sized work is the pushed-down
    postings filter + one doc_id shuffle.
    """
    if term_a == term_b:
        raise ValueError("proximity terms must differ")
    g = _per_term_positions(documents, [term_a, term_b])
    dists = F.flatten(
        F.transform(
            "p0",
            lambda pa: F.transform("p1", lambda pb: F.abs(pa - pb)),
        )
    )
    return (
        g.select(
            "doc_id", F.array_min(dists).cast("long").alias("min_dist")
        )
        .filter(F.col("min_dist") <= slop)
    )


# ---------------------------------------------------------------------------
# DuckDB twins (direct array-scan formulation — the oracle does not need
# the inverted shape, only identical semantics)
# ---------------------------------------------------------------------------

_TOKS_CTE = (
    "SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '%s'),"
    " x -> x <> '') AS toks FROM documents" % TOKEN_SPLIT
)


def _phrase_tf_expr(phrase: list[str]) -> str:
    """DuckDB expression: number of phrase start positions in `toks`
    (1-indexed arrays)."""
    n = len(phrase)
    conds = " AND ".join(
        f"toks[i + {i}] = '{t}'" for i, t in enumerate(phrase)
    )
    return (
        f"len(list_filter(range(1, len(toks) - {n} + 2), i -> {conds}))"
    )


def phrase_match_sql(phrase: list[str]) -> str:
    return f"""
WITH toks AS ({_TOKS_CTE})
SELECT doc_id, CAST({_phrase_tf_expr(phrase)} AS BIGINT) AS phrase_tf
FROM toks WHERE {_phrase_tf_expr(phrase)} > 0
"""


def phrase_topk_sql(phrase: list[str], k: int = 10) -> str:
    tf_expr = _phrase_tf_expr(phrase)
    return f"""
WITH toks AS ({_TOKS_CTE}),
m AS (SELECT doc_id, CAST({tf_expr} AS BIGINT) AS phrase_tf, len(toks) AS dl
      FROM toks WHERE {tf_expr} > 0),
c AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n_docs,
             (SELECT count(*) FROM m)::DOUBLE AS df,
             (SELECT avg(len(toks)) FROM toks) AS avgdl)
SELECT doc_id, phrase_tf,
       round(ln(1.0 + (c.n_docs - c.df + 0.5) / (c.df + 0.5))
             * phrase_tf * ({BM25_K1} + 1.0)
             / (phrase_tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / c.avgdl)),
             6) AS score
FROM m, c
ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


def proximity_match_sql(term_a: str, term_b: str, slop: int) -> str:
    return f"""
WITH toks AS ({_TOKS_CTE}),
pos AS (
  SELECT doc_id,
         list_filter(range(1, len(toks) + 1), i -> toks[i] = '{term_a}') AS pa,
         list_filter(range(1, len(toks) + 1), i -> toks[i] = '{term_b}') AS pb
  FROM toks
),
d AS (
  SELECT doc_id,
         list_min(flatten(list_transform(pa,
             x -> list_transform(pb, y -> abs(x - y))))) AS min_dist
  FROM pos WHERE len(pa) > 0 AND len(pb) > 0
)
SELECT doc_id, CAST(min_dist AS BIGINT) AS min_dist FROM d
WHERE min_dist <= {slop}
"""
