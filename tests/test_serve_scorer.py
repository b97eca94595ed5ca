"""The serving tier's driver scorer (serve._Shard.score) against the
per-term reference loop it replaced: same (doc_id, score) lists, bit
for bit, from both its dense (doc-ordinal) and sparse (candidate)
paths, on seeded random posting arrays and on the edge cases of the
vectorized pass (empty lists, terms absent from tmeta, docs shared by a
group's terms, postings past the last candidate, k beyond the
candidate count, score ties). Also: which path the 16·P rule picks,
and the cache fill refusing a posting whose doc the shard lacks."""

from __future__ import annotations

from types import SimpleNamespace

import numpy as np
import pytest

from reiz_io_spark.functions import codec
from reiz_io_spark.operators.wand import field_weight_of
from reiz_io_spark.serve import DENSE_DOCS_PER_POSTING, _Shard

AVGDL, K1, B = 37.25, 1.2, 0.75
WEIGHTS = {"id": 2.0, "node": 0.5}


def reference_score(groups, tmeta, postings, k, avgdl, k1, b, field_weights=None):
    """The per-term loop: union each group, intersect, then add each
    term's contributions to the candidates in ascending-term order."""
    candidates = None
    for g in sorted(groups, key=lambda g: min(
        (tmeta[t]["df"] for t in g if t in tmeta), default=0
    )):
        docs_g = [postings[t][0] for t in g if t in tmeta]
        union = (
            np.unique(np.concatenate(docs_g)) if docs_g else np.empty(0, np.int64)
        )
        candidates = (
            union if candidates is None
            else np.intersect1d(candidates, union, assume_unique=True)
        )
        if candidates.size == 0:
            return []
    if candidates is None or candidates.size == 0:
        return []
    scores = np.zeros(candidates.size, dtype=np.float64)
    for term in sorted(tmeta):
        d, tf, dl = postings[term]
        if d.size == 0:
            continue
        pos = np.clip(np.searchsorted(d, candidates), 0, d.size - 1)
        hit = d[pos] == candidates
        if not hit.any():
            continue
        idf = float(tmeta[term]["idf"])
        if field_weights:
            idf *= field_weight_of(term, field_weights)
        scores[hit] += codec.bm25_contrib(
            tf[pos[hit]], dl[pos[hit]], idf, avgdl, k1, b
        )
    order = np.lexsort((candidates, -scores))[:k]
    return [(int(candidates[i]), float(scores[i])) for i in order]


def _stub(ids):
    """A _Shard with only the state scoring and the cache fill read:
    ``_ids`` None (no warm doc map: sparse path only) or a sorted doc
    array."""
    shard = _Shard.__new__(_Shard)
    shard._ids = ids
    shard.reader, shard.meta = SimpleNamespace(index_dir="stub"), {}
    return shard


def _superset(postings):
    """Every posting's doc plus docs no posting holds (negative ids and
    gaps between posting docs), sorted and unique like a shard's _ids."""
    docs = [p[0] for p in postings.values()]
    hi = max((int(d.max()) for d in docs if d.size), default=0)
    return np.unique(np.concatenate(docs + [np.arange(-9, hi + 9, 4)]))


def _entries(shard, postings):
    return {t: shard._entry(t, *p) for t, p in postings.items()}


def scored(groups, tmeta, postings, k, field_weights=None):
    """The reference's answer, asserted equal to score on a shard
    without _ids and to each path run directly on a shard with them."""
    want = reference_score(groups, tmeta, postings, k, AVGDL, K1, B, field_weights)
    args = (groups, tmeta)
    rest = (k, AVGDL, K1, B, field_weights)
    sparse = _stub(None)
    assert sparse.score(*args, _entries(sparse, postings), *rest) == want
    dense = _stub(_superset(postings))
    entries = _entries(dense, postings)
    assert dense.score(*args, entries, *rest) == want
    assert dense._score_dense(*args, entries, *rest) == want
    assert dense._score_sparse(*args, entries, *rest) == want
    return want


def _plist(docs, tf=None, dl=None):
    d = np.asarray(docs, dtype=np.int64)  # ascending, as in a cache entry
    n = d.size
    tf = np.ones(n, np.int64) if tf is None else np.asarray(tf, np.int64)
    dl = np.full(n, 10, np.int64) if dl is None else np.asarray(dl, np.int64)
    return d, tf, dl


def _tmeta(postings, idf=None):
    return {
        t: {"term": t, "df": int(p[0].size), "cf": int(p[1].sum()),
            "idf": 1.5 if idf is None else idf[t]}
        for t, p in postings.items()
    }


def _random_case(rng):
    namespaces = ["id", "node", "attr", ""]
    n_terms = int(rng.integers(1, 40))
    n_docs = int(rng.integers(1, 300))
    postings, idf = {}, {}
    for i in range(n_terms):
        ns = namespaces[i % len(namespaces)]
        t = f"{ns}:t{i:03d}" if ns else f"t{i:03d}"
        n = int(rng.integers(0, n_docs + 1))
        d = np.sort(rng.choice(n_docs * 2, size=n, replace=False)).astype(np.int64)
        postings[t] = (d, rng.integers(1, 9, n).astype(np.int64),
                       rng.integers(1, 200, n).astype(np.int64))
        idf[t] = float(rng.uniform(0.01, 9.0))
    tmeta = _tmeta(postings, idf)
    terms = list(postings) + [f"id:absent{i}" for i in range(3)]
    rng.shuffle(terms)
    n_groups = int(rng.integers(1, 5))
    cuts = sorted(rng.choice(np.arange(1, len(terms)), size=min(
        n_groups - 1, len(terms) - 1), replace=False).tolist())
    groups = [tuple(g) for g in np.split(np.array(terms, dtype=object), cuts)]
    return groups, tmeta, postings


@pytest.mark.parametrize("seed", range(40))
@pytest.mark.parametrize("weights", [None, WEIGHTS], ids=["plain", "bm25f"])
def test_random_postings_bit_identical(seed, weights):
    rng = np.random.default_rng(seed)
    groups, tmeta, postings = _random_case(rng)
    for k in (1, 10, 1000, 2**31):
        scored(groups, tmeta, postings, k, weights)


def test_empty_lists():
    postings = {"a": _plist([]), "b": _plist([1, 2, 3])}
    tmeta = _tmeta(postings)
    # an OR group with one empty list still matches through the other
    assert scored([("a", "b")], tmeta, postings, 10)
    # a conjunct whose only list is empty matches nothing
    assert scored([("a",), ("b",)], tmeta, postings, 10) == []
    assert scored([("b",), ("a",)], tmeta, postings, 10) == []
    assert scored([("a",)], tmeta, postings, 10) == []


def test_terms_absent_from_tmeta():
    postings = {"a": _plist([1, 4]), "b": _plist([4, 9])}
    tmeta = _tmeta(postings)
    got = scored([("a", "zz"), ("b", "yy")], tmeta, postings, 10)
    assert [d for d, _ in got] == [4]
    # a group none of whose terms is known matches nothing
    assert scored([("a",), ("zz", "yy")], tmeta, postings, 10) == []


def test_doc_shared_by_terms_of_one_group():
    postings = {"a": _plist([2, 5, 7]), "b": _plist([5, 7, 8]),
                "c": _plist([5, 6])}
    tmeta = _tmeta(postings)
    got = scored([("a", "b"), ("c",)], tmeta, postings, 10)
    # doc 5 is in both OR terms and the conjunct: one candidate, three
    # contributions
    assert [d for d, _ in got] == [5]


def test_postings_past_the_last_candidate():
    # searchsorted returns C for doc 100 in the filter and the scoring
    postings = {"a": _plist([1, 2, 3]), "b": _plist([3, 100]),
                "c": _plist([0, 3, 50, 100])}
    tmeta = _tmeta(postings)
    tmeta["a"]["df"] = 1  # "a" drives the candidates
    got = scored([("a",), ("b", "c")], tmeta, postings, 10)
    assert [d for d, _ in got] == [3]
    got = scored([("a", "b", "c")], tmeta, postings, 10)
    assert sorted(d for d, _ in got) == [0, 1, 2, 3, 50, 100]


def test_k_beyond_candidates():
    postings = {"a": _plist([1, 2, 3], tf=[1, 2, 3])}
    tmeta = _tmeta(postings)
    got = scored([("a",)], tmeta, postings, 2**31)
    assert [d for d, _ in got] == [3, 2, 1]


def test_ties_broken_by_doc_id():
    postings = {"a": _plist([1, 4, 6, 9], tf=[3, 2, 2, 2], dl=[10, 10, 10, 10]),
                "b": _plist([4, 6, 9], dl=[7, 7, 7])}
    tmeta = _tmeta(postings)
    got = scored([("a", "b")], tmeta, postings, 10)
    assert [d for d, _ in got] == [4, 6, 9, 1]
    assert got[0][1] == got[1][1] == got[2][1]


@pytest.mark.parametrize("extra_docs, path", [
    (0, "_score_dense"), (1, "_score_sparse"),
], ids=["n_eq_16p", "n_over_16p"])
def test_dense_rule_picks_the_path(monkeypatch, extra_docs, path):
    postings = {"a": _plist([1, 4, 6], tf=[2, 1, 3]), "b": _plist([4, 9])}
    tmeta = _tmeta(postings)
    p = 5  # the query's postings on the shard
    # docs 0 .. N-1 hold every posting doc; N = 16·P is still dense
    shard = _stub(np.arange(DENSE_DOCS_PER_POSTING * p + extra_docs,
                            dtype=np.int64))
    called = []
    for name in ("_score_dense", "_score_sparse"):
        def spy(self, *a, _name=name, _orig=getattr(_Shard, name)):
            called.append(_name)
            return _orig(self, *a)
        monkeypatch.setattr(_Shard, name, spy)
    for groups in ([("a", "b")], [("a",), ("b",)]):
        called.clear()
        got = shard.score(groups, tmeta, _entries(shard, postings), 10,
                          AVGDL, K1, B)
        assert called == [path]
        assert got == reference_score(groups, tmeta, postings, 10, AVGDL, K1, B)
        assert got


def test_fill_refuses_posting_doc_missing_from_ids():
    shard = _stub(np.array([-3, 1, 4, 9], dtype=np.int64))
    d, tf, dl, ords = shard._entry("a", *_plist([-3, 4, 9]))
    assert ords.tolist() == [0, 2, 3]
    assert _stub(None)._entry("a", *_plist([5]))[3] is None
    # a doc between ids, past the last id, before the first id, and a
    # shard whose doc map is empty
    for docs, ids in (([1, 5], [-3, 1, 4, 9]), ([10], [-3, 1, 4, 9]),
                      ([-4, 1], [-3, 1, 4, 9]), ([1], [])):
        with pytest.raises(RuntimeError, match="corrupt index snapshot"):
            _stub(np.array(ids, dtype=np.int64))._entry("a", *_plist(docs))
