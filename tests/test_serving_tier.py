"""The serving tier over one index and over a two-shard split of the
same corpus (serve.QueryService over a list of snapshots).

Contracts under test:
- a postings cache far smaller than a query's term set still serves
  exact results and explain rows that sum to the served scores (the
  request reads its own postings, never entries a fill can evict);
- the over-budget (distributed) routes of query_after and explain_topk
  over two shards equal the single index forced over budget;
- a wide identifier-prefix (LIKE) query served from the driver route
  ranks exactly like naive_bm25_topk over one index and two shards,
  plain and weighted, paged by query_after, with pending deletes, and
  after refresh_if_stale rebinds a shard; it reads at least as many
  postings as each shard has docs, so every shard scores it on the
  dense (doc-ordinal) path;
- auto-refresh rebinds only the shard that committed;
- the HTTP result caches follow the generation the service serves: a
  commit picked up by auto-refresh is never answered from a cache
  entry of the older snapshot.
"""

from __future__ import annotations

import json
import urllib.request

import numpy as np
import pytest
from pyspark.sql import functions as F

from reiz_io_spark.operators.build import build_index
from reiz_io_spark.operators.deletes import delete_docs
from reiz_io_spark.operators.federation import shard_corpus
from reiz_io_spark.operators.score import IndexReader, naive_bm25_topk
from reiz_io_spark.plans.lower import lower_query
from reiz_io_spark.serve import QueryService
from reiz_io_spark.sources.corpus import synth_corpus

Q = lower_query("flagship", "Call(Name('len'))")
# every Name whose identifier contains an 'a': dozens of id: terms
Q_WIDE = lower_query("wide", "Name(f'%a%')")
# every called Name with a tail identifier: one wide OR group of id:
# terms conjoined with the node terms
Q_PREFIX = lower_query("prefix", "Call(Name(f'ident_0%'))")
K = 10


@pytest.fixture(scope="module")
def tier(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("serving_tier")
    corpus = synth_corpus(spark, n_filler=40, seed=42).cache()
    single = str(base / "single")
    build_index(spark, corpus, single, build_id="b0", n_shards=2,
                fragment_postings=64)
    shards = []
    for i, part in enumerate(shard_corpus(corpus, 2)):
        assert part.count() > 0
        d = str(base / f"shard{i}")
        build_index(spark, part, d, build_id="b0", n_shards=2,
                    fragment_postings=64)
        shards.append(d)
    return {"single": single, "shards": shards}


def _pairs(rows):
    return [(r["doc_id"], r["score"]) for r in rows]


@pytest.mark.parametrize("n_shards", [1, 2])
def test_small_postings_cache_serves_exact_results(spark, tier, n_shards):
    single = IndexReader(spark, tier["single"])
    n_terms = len({t for g in single.resolve_groups(Q_WIDE) for t in g})
    assert n_terms >= 20
    if n_shards == 1:
        svc = QueryService(single, max_cached_terms=8)
    else:
        svc = QueryService(
            [IndexReader(spark, d) for d in tier["shards"]], max_cached_terms=8
        )
    want = _pairs(naive_bm25_topk(single, Q_WIDE, k=K).collect())
    got = _pairs(svc.query_topk(Q_WIDE, k=K))
    assert want and got == want
    sums: dict[int, float] = {}
    for r in svc.explain_topk(Q_WIDE, k=K):
        sums[r["doc_id"]] = sums.get(r["doc_id"], 0.0) + r["contrib"]
    assert sums == dict(got)


@pytest.mark.parametrize("q", [Q, Q_WIDE], ids=["flagship", "like"])
def test_over_budget_query_after_two_shards(spark, tier, q):
    single = QueryService(IndexReader(spark, tier["single"]),
                          max_driver_postings=1)
    fed = QueryService([IndexReader(spark, d) for d in tier["shards"]],
                       max_driver_postings=1)
    ana = fed.analyze(q)
    assert ana["route"] == "distributed-wand" and ana["n_shards"] == 2
    page1 = single.query_topk(q, k=4)
    cursor = (page1[-1]["score"], page1[-1]["doc_id"])
    want = single.query_after(q, cursor, k=4)
    assert want and fed.query_after(q, cursor, k=4) == want
    # the distributed cursor page equals the warm driver route's
    warm = QueryService(IndexReader(spark, tier["single"]))
    assert _pairs(warm.query_after(q, cursor, k=4)) == _pairs(want)


@pytest.mark.parametrize("q", [Q, Q_WIDE], ids=["flagship", "like"])
def test_over_budget_explain_two_shards(spark, tier, q):
    single = QueryService(IndexReader(spark, tier["single"]),
                          max_driver_postings=1)
    fed = QueryService([IndexReader(spark, d) for d in tier["shards"]],
                       max_driver_postings=1)
    want = single.explain_topk(q, k=3)
    assert want and fed.explain_topk(q, k=3) == want
    sums: dict[int, float] = {}
    for r in want:
        sums[r["doc_id"]] = sums.get(r["doc_id"], 0.0) + r["contrib"]
    top = single.query_topk(q, k=3)
    assert [r["doc_id"] for r in top] == list(sums)
    for r in top:
        assert abs(sums[r["doc_id"]] - r["score"]) < 1e-9


def _tiled(svc, q, field_weights, page):
    """The full ranking as query_topk's first page + query_after pages."""
    rows = svc.query_topk(q, k=page, field_weights=field_weights)
    out = list(rows)
    while rows:
        cursor = (rows[-1]["score"], rows[-1]["doc_id"])
        rows = svc.query_after(q, cursor, k=page, field_weights=field_weights)
        out.extend(rows)
    return _pairs(out)


def _spy_paths(monkeypatch) -> list[str]:
    """Record each _Shard scoring path a request runs."""
    from reiz_io_spark.serve import _Shard

    called: list[str] = []
    for name in ("_score_dense", "_score_sparse"):
        def spy(self, *a, _name=name, _orig=getattr(_Shard, name)):
            called.append(_name)
            return _orig(self, *a)
        monkeypatch.setattr(_Shard, name, spy)
    return called


@pytest.mark.parametrize("state", ["live", "deleted", "refreshed"])
@pytest.mark.parametrize("n_shards", [1, 2])
def test_wide_prefix_query_rank_identity(spark, tier, tmp_path, monkeypatch,
                                         n_shards, state):
    """A LIKE prefix expanding to >= 20 identifiers (one wide OR group)
    ranks on the driver route exactly as naive_bm25_topk over the single
    index. Its P postings on each shard are >= the shard's N docs, so
    every shard takes the dense path. After a delete (on copies) the
    pending tombstones are masked: out of the docs' ordinals and the
    postings alike, on a service opened after the delete ("deleted")
    or on a warm one that refresh_if_stale rebinds ("refreshed": only
    the shard holding the deleted repo commits)."""
    import shutil

    single_dir, shard_dirs = tier["single"], tier["shards"]
    single = IndexReader(spark, single_dir)
    n_terms = len({t for g in single.resolve_groups(Q_PREFIX) for t in g})
    assert n_terms >= 20
    victim = None
    if state != "live":
        victim = QueryService(single).query_topk(Q_PREFIX, k=1)[0]["repo"]
        single_dir = str(tmp_path / "single")
        shard_dirs = [str(tmp_path / f"s{i}") for i in range(2)]
        for src, dst in zip([tier["single"], *tier["shards"]],
                            [single_dir, *shard_dirs]):
            shutil.copytree(src, dst)

    def open_service():
        return QueryService(
            IndexReader(spark, single_dir) if n_shards == 1
            else [IndexReader(spark, d) for d in shard_dirs]
        )

    def delete_victim():
        dirs = [single_dir] + [
            d for d in shard_dirs
            if IndexReader(spark, d).docs().filter(F.col("repo") == victim).count()
        ]
        assert len(dirs) == 2  # the repo lives in exactly one shard
        for d in dirs:
            delete_docs(spark, d, F.col("repo") == victim)

    if state == "deleted":
        delete_victim()
    svc = open_service()
    if state == "refreshed":
        svc.query_topk(Q_PREFIX, k=K)  # warm caches of the old snapshots
        before = svc._snap.shards
        delete_victim()
        assert svc.refresh_if_stale()
        rebound = [a is not b for a, b in zip(svc._snap.shards, before)]
        assert sum(rebound) == 1
    single = IndexReader(spark, single_dir)
    assert svc.analyze(Q_PREFIX)["route"] == "driver-cache"
    gen = svc._snap
    tmeta = gen.term_meta(sorted({t for g in gen.resolve_groups(Q_PREFIX) for t in g}))
    for sh in gen.shards:
        p = sum(v[0].size for v in sh.postings(list(tmeta)).values())
        assert p >= sh._ids.size > 0
        if sh._excl is not None:  # pending tombstones hold no ordinal
            assert not np.isin(sh._excl, sh._ids).any()
    assert (victim is None) == all(sh._excl is None for sh in gen.shards)
    called = _spy_paths(monkeypatch)
    for weights in (None, {"id": 2.0, "node": 0.5}):
        want = _pairs(naive_bm25_topk(
            single, Q_PREFIX, k=100_000, field_weights=weights
        ).collect())
        assert len(want) > 20
        full = svc.query_topk(Q_PREFIX, k=100_000, field_weights=weights)
        assert _pairs(full) == want
        assert victim not in {r["repo"] for r in full}
        assert _tiled(svc, Q_PREFIX, weights, page=7) == want
    assert called and set(called) == {"_score_dense"}


def test_concurrent_requests_under_cache_pressure(spark, tier):
    """More request threads than cores share one two-shard service whose
    postings cache holds 8 terms: every answer stays exact while fills
    evict each other's terms."""
    import sys
    import threading

    single = IndexReader(spark, tier["single"])
    want = {
        q.name: _pairs(naive_bm25_topk(single, q, k=K).collect())
        for q in (Q, Q_WIDE)
    }
    svc = QueryService([IndexReader(spark, d) for d in tier["shards"]],
                       max_cached_terms=8)
    got: list[tuple[str, list]] = []
    errors: list[BaseException] = []

    def client():
        try:
            for q in (Q_WIDE, Q, Q_WIDE):
                got.append((q.name, _pairs(svc.query_topk(q, k=K))))
        except BaseException as exc:  # noqa: BLE001 — reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=client) for _ in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(got) == 18
    assert all(rows == want[name] for name, rows in got)


def test_commit_on_one_shard_rebinds_only_that_shard(spark, tier, tmp_path):
    import shutil

    dirs = [str(tmp_path / f"s{i}") for i in range(2)]
    for src, dst in zip(tier["shards"], dirs):
        shutil.copytree(src, dst)
    svc = QueryService([IndexReader(spark, d) for d in dirs],
                       auto_refresh_s=0.0)
    before = svc.query_topk(Q, k=K)
    untouched = svc._snap.shards[1]
    key0 = svc.version_key()
    victim = next(r for r in before if r["doc_id"] in
                  svc._snap.shards[0]._docmeta)["repo"]
    delete_docs(spark, dirs[0], F.col("repo") == victim)

    after = svc.query_topk(Q, k=K)
    assert svc._snap.shards[1] is untouched
    assert svc.version_key() != key0
    assert victim not in {r["repo"] for r in after}
    fresh = QueryService([IndexReader(spark, d) for d in dirs])
    assert after == fresh.query_topk(Q, k=K)


def _post(base: str, path: str, payload: dict) -> dict:
    req = urllib.request.Request(
        base + path,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as resp:
        return json.loads(resp.read())


def test_http_caches_follow_auto_refresh(spark, tmp_path):
    from reiz_io_spark.web import start_background

    out = str(tmp_path / "live")
    build_index(spark, synth_corpus(spark, n_filler=24, seed=7), out,
                build_id="b0", n_shards=2, fragment_postings=64)
    svc = QueryService(IndexReader(spark, out), auto_refresh_s=0.0)
    httpd, port = start_background(svc, per_minute=10_000, per_hour=100_000)
    base = f"http://127.0.0.1:{port}"
    body = {"query": Q.source, "limit": K}
    try:
        first = _post(base, "/query", body)
        assert first["cached"] is False and first["results"]
        victim = first["results"][0]["repo"]
        victim_ids = {
            r["doc_id"] for r in IndexReader(spark, out).docs()
            .filter(F.col("repo") == victim).select("doc_id").collect()
        }
        delete_docs(spark, out, F.col("repo") == victim)
        again = _post(base, "/query", body)
        assert again["cached"] is False
        assert again["results"]
        assert not ({r["doc_id"] for r in again["results"]} & victim_ids)
        # the post-commit answer is cached under the new generation
        assert _post(base, "/query", body)["cached"] is True
    finally:
        httpd.shutdown()
