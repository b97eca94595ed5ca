"""Federated search over a sharded index (operators/federation.py).

Contract under test (the dfs_query_then_fetch discipline): searching N
independent shard indexes built over a repo-hash-partitioned corpus
returns EXACTLY what one index over the whole corpus returns — same
doc_ids, bit-identical scores — because df / n_docs / total_dl are
integer sums over disjoint doc sets and the global idf/avgdl floats
derive from the same expressions. Also: dictionary expansion (LIKE)
unions across shard vocabularies, pending deletes inside a shard stay
excluded, k1/b disagreement refuses, and offset paging matches.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from reiz_io_spark.operators.build import build_index
from reiz_io_spark.operators.deletes import delete_docs
from reiz_io_spark.operators.federation import shard_corpus
from reiz_io_spark.operators.score import (
    IndexReader,
    attach_doc_metadata,
    query_stats,
)
from reiz_io_spark.operators.verify import CANDIDATE_BUDGET, structural_topk
from reiz_io_spark.operators.wand import wand_topk
from reiz_io_spark.plans.lower import lower_query
from reiz_io_spark.plans.queries import REFERENCE_QUERIES
from reiz_io_spark.sources.corpus import synth_corpus

Q = lower_query("flagship", "Call(Name('len'))")
Q_LIKE = lower_query("fmt", REFERENCE_QUERIES["simple/simple_formatted_name_match"])
N_SHARDS = 3


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.fixture(scope="module")
def fed(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("fed")
    corpus = synth_corpus(spark, n_filler=60, seed=42).cache()
    single = str(base / "single")
    build_index(spark, corpus, single, build_id="b0", n_shards=2,
                fragment_postings=64)
    shard_dirs = []
    parts = shard_corpus(corpus, N_SHARDS)
    sizes = [p.count() for p in parts]
    assert sum(sizes) == corpus.count() and all(s > 0 for s in sizes)
    for i, part in enumerate(parts):
        d = str(base / f"shard{i}")
        build_index(spark, part, d, build_id="b0", n_shards=2,
                    fragment_postings=64)
        shard_dirs.append(d)
    return {
        "corpus": corpus,
        "single": single,
        "shards": shard_dirs,
        "readers": [IndexReader(spark, d) for d in shard_dirs],
    }


def test_federated_equals_single_index_bitwise(spark, fed):
    for q in (Q, Q_LIKE):
        want = _rows(wand_topk(IndexReader(spark, fed["single"]), q, k=25))
        got = _rows(wand_topk(fed["readers"], q, k=25))
        assert got == want, q.name


def test_global_stats_match_single_index(spark, fed):
    single = IndexReader(spark, fed["single"])
    groups, stats = query_stats(fed["readers"], Q)
    assert [set(g) for g in groups] == [
        set(g) for g in single.resolve_groups(Q)
    ]
    assert stats["avgdl"] == float(single.meta["avgdl"])
    tmeta = single.term_meta(sorted({t for g in groups for t in g}))
    for t, m in tmeta.items():
        assert stats["terms"][t]["df"] == int(m["df"])
        assert stats["terms"][t]["idf"] == float(m["idf"])


def test_local_stats_would_diverge(spark, fed):
    """The discipline matters: at least one shard's local df/avgdl
    differs from the global one for the flagship terms — scoring
    locally would skew (the artifact the dfs phase removes)."""
    _, stats = query_stats(fed["readers"], Q)
    diverges = False
    for r in fed["readers"]:
        if float(r.meta["avgdl"]) != stats["avgdl"]:
            diverges = True
        for t, m in r.term_meta(list(stats["terms"])).items():
            if int(m["df"]) != stats["terms"][t]["df"]:
                diverges = True
    assert diverges


def test_field_weights_and_offset(spark, fed):
    w = {"id": 2.0, "node": 0.5}
    single = IndexReader(spark, fed["single"])
    assert _rows(
        wand_topk(fed["readers"], Q, k=10, offset=5, field_weights=w)
    ) == _rows(wand_topk(single, Q, k=10, offset=5, field_weights=w))


def test_metadata_join_across_shards(spark, fed):
    single = IndexReader(spark, fed["single"])
    top_single = wand_topk(single, Q, k=10)
    want = [
        (r["repo"], r["path"], r["score"])
        for r in attach_doc_metadata(single, top_single).collect()
    ]
    top_fed = wand_topk(fed["readers"], Q, k=10)
    got = [
        (r["repo"], r["path"], r["score"])
        for r in attach_doc_metadata(fed["readers"], top_fed).collect()
    ]
    assert got == want


def test_pending_delete_in_one_shard(spark, fed, tmp_path_factory):
    """Tombstone a repo inside its shard AND in the single index: both
    sides exclude it immediately and stay bit-identical (pending
    tombstones keep counting toward stats on both sides — the Lucene
    contract holds shard-locally)."""
    import shutil

    base = tmp_path_factory.mktemp("fed_del")
    single2 = str(base / "single")
    shutil.copytree(fed["single"], single2)
    victim = "synth/repo004"
    sdirs = []
    for d in fed["shards"]:
        d2 = str(base / ("s_" + d.rsplit("/", 1)[-1]))
        shutil.copytree(d, d2)
        sdirs.append(d2)
    delete_docs(spark, single2, F.col("repo") == victim)
    hit = 0
    for d in sdirs:
        r = IndexReader(spark, d)
        if r.docs().filter(F.col("repo") == victim).take(1):
            delete_docs(spark, d, F.col("repo") == victim)
            hit += 1
    assert hit == 1, "repo-hash routing must place one repo in one shard"
    readers = [IndexReader(spark, d) for d in sdirs]
    want = _rows(wand_topk(IndexReader(spark, single2), Q, k=25))
    got = _rows(wand_topk(readers, Q, k=25))
    assert got == want
    assert victim not in {
        r["repo"]
        for r in attach_doc_metadata(
            readers, wand_topk(readers, Q, k=25)
        ).collect()
    }


def test_k1_mismatch_refuses(spark, fed, tmp_path_factory):
    import json
    import os
    import shutil

    base = tmp_path_factory.mktemp("fed_k1")
    bad = str(base / "bad_shard")
    shutil.copytree(fed["shards"][0], bad)
    mp = os.path.join(bad, "meta.json")
    with open(mp) as fh:
        meta = json.load(fh)
    meta["k1"] = 9.9
    with open(mp, "w") as fh:
        json.dump(meta, fh)
    readers = [IndexReader(spark, bad)] + fed["readers"][1:]
    with pytest.raises(ValueError, match="k1"):
        query_stats(readers, Q)


def test_federated_serving_tier(spark, fed):
    """QueryService over the shard readers: global stats summed over
    the shards, per-shard driver scoring, merged top-k — equal to both the
    single-index warm service and the distributed federated path; the
    warm repeat touches no new Spark jobs' worth of postings fetches."""
    from reiz_io_spark.serve import QueryService

    single_svc = QueryService(IndexReader(spark, fed["single"]))
    fed_svc = QueryService(fed["readers"])
    for q in (Q, Q_LIKE):
        for w in (None, {"id": 2.0, "node": 0.5}):
            want = [
                (r["doc_id"], r["score"])
                for r in single_svc.query_topk(q, k=15, field_weights=w)
            ]
            got = [
                (r["doc_id"], r["score"])
                for r in fed_svc.query_topk(q, k=15, field_weights=w)
            ]
            assert got == want, (q.name, w)
    # offset paging parity against the distributed federated path
    want = _rows(wand_topk(fed["readers"], Q, k=10, offset=5))
    got = [
        (r["doc_id"], r["score"])
        for r in fed_svc.query_topk(Q, k=10, offset=5)
    ]
    assert got == want
    # metadata rendering resolves across shards
    rows = fed_svc.query_topk(Q, k=5)
    assert all(r["repo"] and r["path"] and r["github_link"] for r in rows)


def test_federated_serving_distributed_fallback(spark, fed):
    """A tiny driver budget routes the federated service through the
    distributed federated WAND path — results unchanged."""
    from reiz_io_spark.serve import QueryService

    fed_svc = QueryService(fed["readers"], max_driver_postings=1)
    want = _rows(wand_topk(fed["readers"], Q, k=10))
    got = [(r["doc_id"], r["score"]) for r in fed_svc.query_topk(Q, k=10)]
    assert got == want


def test_federated_writes_route_to_owning_shard(spark, fed, tmp_path_factory):
    """Update/delete routing: an update batch touches only the shards
    owning its repos (others' versions unmoved); federated_delete_repo
    commits on exactly the owning shard; post-update federated results
    equal a single union index over the updated corpus."""
    import shutil

    from reiz_io_spark.operators.federation import (
        federated_delete_repo,
        federated_update_docs,
    )

    base = tmp_path_factory.mktemp("fed_wr")
    sdirs = []
    for d in fed["shards"]:
        d2 = str(base / ("w_" + d.rsplit("/", 1)[-1]))
        shutil.copytree(d, d2)
        sdirs.append(d2)
    victim = "synth/repo002"
    suffix = "\n\ndef fed_upd_probe(x):\n    return len(x)\n"
    batch = fed["corpus"].filter(F.col("repo") == victim).withColumn(
        "content", F.concat(F.col("content"), F.lit(suffix))
    )
    before = [int(IndexReader(spark, d).meta["version"]) for d in sdirs]
    federated_update_docs(spark, sdirs, batch)
    after = [int(IndexReader(spark, d).meta["version"]) for d in sdirs]
    assert sum(1 for b, a in zip(before, after) if a > b) == 1, (
        "exactly one shard owns the repo"
    )

    # fold the replaced versions: pending tombstones count toward
    # stats until compaction (the Lucene contract), so fresh-build
    # parity needs the owning shard compacted first
    from reiz_io_spark.operators.deletes import compact_deletes

    for d in sdirs:
        compact_deletes(spark, d)

    single2 = str(base / "single")
    updated_corpus = fed["corpus"].withColumn(
        "content",
        F.when(F.col("repo") == victim,
               F.concat(F.col("content"), F.lit(suffix)))
        .otherwise(F.col("content")),
    )
    build_index(spark, updated_corpus, single2, build_id="b0", n_shards=2,
                fragment_postings=64)
    readers = [IndexReader(spark, d) for d in sdirs]
    want = {
        (r["repo"], r["path"], round(r["score"], 9))
        for r in attach_doc_metadata(
            IndexReader(spark, single2),
            wand_topk(IndexReader(spark, single2), Q, k=25),
        ).collect()
    }
    got = {
        (r["repo"], r["path"], round(r["score"], 9))
        for r in attach_doc_metadata(
            readers, wand_topk(readers, Q, k=25)
        ).collect()
    }
    assert got == want

    # delete-one-repo: exactly the owning shard commits
    before = [int(IndexReader(spark, d).meta["version"]) for d in sdirs]
    federated_delete_repo(spark, sdirs, victim)
    after = [int(IndexReader(spark, d).meta["version"]) for d in sdirs]
    assert sum(1 for b, a in zip(before, after) if a > b) == 1
    readers = [IndexReader(spark, d) for d in sdirs]
    assert victim not in {
        r["repo"]
        for r in attach_doc_metadata(
            readers, wand_topk(readers, Q, k=25)
        ).collect()
    }


def test_reshard_without_retokenize(spark, fed, tmp_path_factory):
    """3 shards -> 2 shards rebuilt purely from the logs (no tokenizer
    pass): federated results bit-identical across the reshard,
    version-qualified update identities ride along, folded deletes stay
    gone, pending tombstones refuse."""
    import shutil

    from reiz_io_spark.operators.deletes import compact_deletes, delete_docs
    from reiz_io_spark.operators.federation import reshard_index
    from reiz_io_spark.operators.updates import update_docs

    base = tmp_path_factory.mktemp("reshard")
    sdirs = []
    for d in fed["shards"]:
        d2 = str(base / ("r_" + d.rsplit("/", 1)[-1]))
        shutil.copytree(d, d2)
        sdirs.append(d2)

    # mutate before resharding: one repo updated (+compacted), one deleted
    upd_repo, del_repo = "synth/repo002", "synth/repo005"
    for d in sdirs:
        r = IndexReader(spark, d)
        if r.docs().filter(F.col("repo") == upd_repo).take(1):
            update_docs(
                spark, d,
                fed["corpus"].filter(F.col("repo") == upd_repo).withColumn(
                    "content",
                    F.concat(F.col("content"),
                             F.lit("\n\ndef reshard_probe(x):\n    return len(x)\n")),
                ),
            )
            compact_deletes(spark, d)
        if IndexReader(spark, d).docs().filter(
            F.col("repo") == del_repo
        ).take(1):
            delete_docs(spark, d, F.col("repo") == del_repo)
            compact_deletes(spark, d)

    old_readers = [IndexReader(spark, d) for d in sdirs]
    want = _rows(wand_topk(old_readers, Q, k=30))

    new_dirs = reshard_index(spark, sdirs, 2, str(base / "new"))
    assert len(new_dirs) == 2
    from reiz_io_spark.operators.fsck import fsck_index

    for d in new_dirs:
        rep = fsck_index(spark, d, deep=True)
        bad = {k: v for k, v in rep.items() if not v["ok"]}
        assert not bad, (d, bad)
    new_readers = [IndexReader(spark, d) for d in new_dirs]
    got = _rows(wand_topk(new_readers, Q, k=30))
    assert got == want, "reshard must be invisible to queries"
    # deleted repo stays gone; updated repo serves the new content ids
    repos = {
        r["repo"]
        for r in attach_doc_metadata(
            new_readers,
            wand_topk(new_readers, Q, k=30),
        ).collect()
    }
    assert del_repo not in repos

    # pending tombstones refuse
    pend = str(base / "pend")
    shutil.copytree(new_dirs[0], pend)
    victim = (
        IndexReader(spark, pend).docs().select("repo")
        .distinct().orderBy("repo").collect()[0]["repo"]
    )
    delete_docs(spark, pend, F.col("repo") == victim)
    with pytest.raises(RuntimeError, match="pending"):
        reshard_index(spark, [pend, new_dirs[1]], 2, str(base / "new2"))


def test_federated_positions_equal_single_index(spark, fed):
    """Structural positions through the federated serving tier equal
    the single-index service over the union corpus — same ranking
    (global stats), same verified docs, same spans/links."""
    from reiz_io_spark.serve import QueryService

    q = lower_query("pos", REFERENCE_QUERIES["simple/not_constant"])
    single_svc = QueryService(IndexReader(spark, fed["single"]))
    fed_svc = QueryService(fed["readers"])
    want = single_svc.query_positions(q, k=5)
    got = fed_svc.query_positions(q, k=5)
    assert got == want
    assert want, "fixture query should verify at least one doc"
    # offset paging parity
    assert fed_svc.query_positions(q, k=3, offset=2) == \
        single_svc.query_positions(q, k=3, offset=2)


def test_federated_statistics_equal_single_index(spark, fed):
    from reiz_io_spark.serve import QueryService

    single = QueryService(IndexReader(spark, fed["single"])).statistics()
    fed_stats = QueryService(fed["readers"]).statistics()
    assert fed_stats == single


def test_federated_positions_distributed_route(spark, fed):
    """Over-budget federated positions route through the DISTRIBUTED
    structural verify over the shard readers under global stats — equal
    to the single-index service forced onto its distributed route."""
    from reiz_io_spark.serve import QueryService

    q = lower_query("pos", REFERENCE_QUERIES["simple/not_constant"])
    single_svc = QueryService(
        IndexReader(spark, fed["single"]), max_driver_postings=1
    )
    fed_svc = QueryService(fed["readers"], max_driver_postings=1)
    want = single_svc.query_positions(q, k=5)
    got = fed_svc.query_positions(q, k=5)
    assert want and got == want


def test_facets_over_shards_equal_single_index(spark, fed):
    from reiz_io_spark.operators.score import facet_counts

    single = IndexReader(spark, fed["single"])
    for q, col in ((Q, "repo"), (Q_LIKE, "repo")):
        want = [
            (r[col], r["n_docs"])
            for r in facet_counts(single, q, facet_col=col).collect()
        ]
        got = [
            (r[col], r["n_docs"])
            for r in facet_counts(fed["readers"], q, facet_col=col).collect()
        ]
        assert got == want and want  # non-empty, identical incl. order
    # k truncation keeps the (count desc, facet asc) deterministic head
    want_q = [
        (r["repo"], r["n_docs"]) for r in facet_counts(single, Q).collect()
    ]
    got3 = facet_counts(fed["readers"], Q, facet_col="repo", k=3).collect()
    assert [(r["repo"], r["n_docs"]) for r in got3] == want_q[:3]


def test_facets_respect_pending_deletes(spark, fed, tmp_path):
    import shutil

    from reiz_io_spark.operators.score import facet_counts

    src = fed["single"]
    dst = str(tmp_path / "fac_del")
    shutil.copytree(src, dst)
    before = {
        r["repo"]: r["n_docs"]
        for r in facet_counts(IndexReader(spark, dst), Q).collect()
    }
    victim = max(before, key=before.get)
    delete_docs(spark, dst, F.col("repo") == victim)
    after = {
        r["repo"]: r["n_docs"]
        for r in facet_counts(IndexReader(spark, dst), Q).collect()
    }
    assert victim not in after
    assert {k: v for k, v in before.items() if k != victim} == after


def test_serving_explain_single_and_federated(spark, fed):
    """explain_topk at the serving tier: contributions sum to the
    served score exactly; the federated explain (owner-shard tf/dl
    under global df/idf) is row-identical to the single-index one."""
    from reiz_io_spark.serve import QueryService

    single_svc = QueryService(IndexReader(spark, fed["single"]))
    fed_svc = QueryService(fed["readers"])
    for q in (Q, Q_LIKE):
        top = single_svc.query_topk(q, k=3)
        rows = single_svc.explain_topk(q, k=3)
        by_doc: dict[int, float] = {}
        for r in rows:
            by_doc[r["doc_id"]] = by_doc.get(r["doc_id"], 0.0) + r["contrib"]
        for t in top:
            assert abs(by_doc[t["doc_id"]] - t["score"]) < 1e-9, q.name

        fed_rows = fed_svc.explain_topk(q, k=3)
        key = lambda r: (r["doc_id"], r["term"])  # noqa: E731
        assert sorted(
            (r["doc_id"], r["term"], r["tf"], r["dl"], r["df"],
             round(r["idf"], 9), round(r["contrib"], 9))
            for r in fed_rows
        ) == sorted(
            (r["doc_id"], r["term"], r["tf"], r["dl"], r["df"],
             round(r["idf"], 9), round(r["contrib"], 9))
            for r in rows
        ), q.name

    # batch twin agreement: the serving rows equal explain_score's
    from reiz_io_spark.operators.score import explain_score

    ids = [r["doc_id"] for r in single_svc.query_topk(Q, k=2)]
    batch = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], round(r["contrib"], 9))
        for r in explain_score(
            IndexReader(spark, fed["single"]), Q, ids
        ).collect()
    }
    serve_rows = {
        (r["doc_id"], r["term"]): (r["tf"], r["df"], round(r["contrib"], 9))
        for r in single_svc.explain_topk(Q, k=2)
    }
    assert serve_rows == batch


def test_federated_cursor_paging_equals_single_index(spark, fed):
    from reiz_io_spark.operators.score import bm25_topk_after

    single = IndexReader(spark, fed["single"])
    k = 8
    page1 = _rows(wand_topk(fed["readers"], Q, k=k))
    cursor = (page1[-1][1], page1[-1][0])
    got = _rows(
        bm25_topk_after(fed["readers"], Q, cursor, k=k)
    )
    want = _rows(bm25_topk_after(single, Q, cursor, k=k))
    assert got == want and got
    # pages tile: page1 + page2 == the first 2k of the full ranking
    assert page1 + got == _rows(
        wand_topk(fed["readers"], Q, k=2 * k)
    )


def test_serving_query_after_single_and_federated(spark, fed):
    from reiz_io_spark.serve import QueryService

    single_svc = QueryService(IndexReader(spark, fed["single"]))
    fed_svc = QueryService(fed["readers"])
    k = 6
    page1 = single_svc.query_topk(Q, k=k)
    cursor = (page1[-1]["score"], page1[-1]["doc_id"])
    want = [
        (r["doc_id"], r["score"]) for r in single_svc.query_after(Q, cursor, k=k)
    ]
    got = [
        (r["doc_id"], r["score"]) for r in fed_svc.query_after(Q, cursor, k=k)
    ]
    assert got == want and got
    # tiles the federated full ranking
    assert [
        (r["doc_id"], r["score"]) for r in fed_svc.query_topk(Q, k=2 * k)
    ][k:] == got


@pytest.mark.parametrize(
    "candidate_budget", [CANDIDATE_BUDGET, 0], ids=["materialized", "prefixes"]
)
def test_structural_verify_and_explain_over_shards(spark, fed, candidate_budget):
    """structural_topk over the shard readers equals the single index on
    both retrieval routes (materialized candidates, ranked prefixes);
    explain_score over the shard readers is row-identical too."""
    from reiz_io_spark.operators.score import explain_score

    single = IndexReader(spark, fed["single"])
    q = lower_query("pos", REFERENCE_QUERIES["simple/not_constant"])
    want = structural_topk(
        single, q, k=5, candidate_budget=candidate_budget
    ).collect()
    got = structural_topk(
        fed["readers"], q, k=5, candidate_budget=candidate_budget
    ).collect()
    assert want and got == want
    ids = [r["doc_id"] for r in wand_topk(single, Q, k=3).collect()]
    want_x = explain_score(single, Q, ids).collect()
    assert want_x and explain_score(fed["readers"], Q, ids).collect() == want_x


def test_cli_query_over_shards_equals_single_index(spark, fed, capsys):
    """`query --indexes` over the shard dirs prints the rows `query
    --index` prints for the union index; the single-index-only flags
    refuse a shard set."""
    import argparse

    from reiz_io_spark import cli

    def run(**kw):
        args = argparse.Namespace(
            cmd="query", index=None, indexes=None,
            pattern="Call(Name('len'))", k=10, naive=False,
            at_version=None, explain=False, after=None,
        )
        vars(args).update(kw)
        code = cli._dispatch(args, spark)
        return code, capsys.readouterr().out.splitlines()

    code, want = run(index=fed["single"])
    assert code == 0 and len(want) == 10
    assert run(indexes=",".join(fed["shards"])) == (0, want)
    for flag in ({"naive": True}, {"at_version": 1}):
        code, out = run(indexes=",".join(fed["shards"]), **flag)
        assert code == 2 and out == []
