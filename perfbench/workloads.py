"""The benchmark's workloads, driven only through the engine's public
functions.

Every run has the same shape: set-up (corpus, base build, reader and
service open, one untimed warm-up op), the timed phase of the workload,
then the correctness check. A traced run (``--trace 1``) adds, after
the timed phase, direct probes of the layers its workload does not
reach (codec, matcher, structural verify, update/delete/compact), so
every per-layer metric is measured on every workload.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import threading
import time

import numpy as np

from . import corpus as corpus_mod
from .harness import (
    Tracer,
    dir_bytes,
    file_sizes,
    log,
    median,
    percentile,
    tail_percentile,
)

LAYERS = (
    "sources.corpus", "operators.build", "functions.codec", "operators.score",
    "plans.lower", "serve", "operators.wand", "plans.matcher",
    "operators.verify", "operators.updates", "operators.deletes", "bench",
)


def load_params(here: str) -> dict:
    with open(os.path.join(here, "params.json")) as fh:
        return {k: v["value"] for k, v in json.load(fh).items()}


class Run:
    """State of one benchmark run: parameters, tracer, failure counts,
    the set-up products and the timings the metrics are made from."""

    def __init__(self, spark, work: str, params: dict, seed: int,
                 seconds: float, trace: bool, n_filler: int, mem):
        self.spark = spark
        self.mem = mem
        self.timed: list[float] = []  # monotonic start and end of the timed phase
        self.work = work
        self.p = params
        self.seed = seed
        self.seconds = seconds
        self.tracer = Tracer(trace)
        self.n_filler = n_filler
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.requests: list[dict] = []  # traced requests' terms and route
        self.query_info: dict[str, dict] = {}
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict = {}

    def span(self, name: str, rid: int | None = None):
        return self.tracer.span(name, rid)

    def begin_timed(self) -> None:
        self.timed = [time.monotonic()]

    def end_timed(self) -> None:
        """Memory is sampled through set-up and the timed phase, not the
        checker."""
        self.timed.append(time.monotonic())
        self.mem.stop()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)


# ------------------------------------------------------------------ set-up


def _queries():
    from reiz_io_spark.plans.queries import REFERENCE_QUERIES

    return dict(REFERENCE_QUERIES)


def build(run: Run, corpus_df, out: str) -> float:
    """One full build (stage1_ingest + merge_and_encode, which is what
    build_index runs) into a fresh directory; returns its wall time."""
    from reiz_io_spark.operators.build import merge_and_encode, stage1_ingest

    t0 = time.perf_counter()
    with run.span("operators.build:stage1_ingest"):
        stage1_ingest(run.spark, corpus_df, out, build_id="bench",
                      n_shards=run.p["n_shards"])
    with run.span("operators.build:merge_and_encode"):
        merge_and_encode(run.spark, out, build_id="bench",
                         fragment_postings=run.fragment_postings)
    return time.perf_counter() - t0


def open_service(run: Run):
    from reiz_io_spark.operators.score import IndexReader
    from reiz_io_spark.serve import QueryService

    with run.span("operators.score:IndexReader"):
        reader = IndexReader(run.spark, run.index_dir)
    with run.span("serve:QueryService"):
        svc = QueryService(
            reader,
            max_driver_postings=run.max_driver_postings,
            max_cached_terms=run.p["max_cached_terms"],
        )
    return reader, svc


def do_setup(run: Run, session_s: float) -> None:
    """Corpus (repeated), base build, reader/service open (repeated).
    The warm-up op is the workload's own and is timed by the caller."""
    from reiz_io_spark.schema import CORPUS

    cores = run.p["cores"]
    gen = []
    corpus_df = None
    for _ in range(run.p["setup_repeats"]):
        if corpus_df is not None:
            corpus_df.unpersist()
        t0 = time.perf_counter()
        with run.span("sources.corpus:synth_corpus_distributed"):
            pdf = corpus_mod.generate(run.spark, run.seed, run.n_filler, cores)
            corpus_df = run.spark.createDataFrame(pdf, CORPUS).cache()
            corpus_df.count()
        gen.append(time.perf_counter() - t0)
    run.pdf = pdf
    run.corpus_df = corpus_df
    n_docs = len(pdf)
    run.fragment_postings = max(64, int(n_docs * run.p["fragment_postings_per_doc"]))
    run.max_driver_postings = int(n_docs * run.p["max_driver_postings_per_doc"])
    run.source_bytes = int(pdf["content"].str.len().sum())
    run.report["corpus"] = {
        "seed": run.seed, "n_files": n_docs, "source_bytes": run.source_bytes,
        "content_sha256": corpus_mod.content_sha256(pdf),
    }
    run.index_dir = os.path.join(run.work, "index")
    build_s = build(run, run.corpus_df, run.index_dir)
    run.index_bytes = dir_bytes(run.index_dir)
    opens = []
    for _ in range(run.p["setup_repeats"]):
        t0 = time.perf_counter()
        run.reader, run.svc = open_service(run)
        opens.append(time.perf_counter() - t0)
    run.setup = {"session_s": session_s, "corpus_gen_s": median(gen),
                 "base_build_s": build_s, "open_s": median(opens)}


# ------------------------------------------------------------ requests


def describe(run: Run, svc, name: str, q) -> dict:
    """Terms and route of a query, from ``QueryService.analyze``; kept
    per query name, so traced requests label their span without
    calling analyze again."""
    with run.span("serve:analyze"):
        an = svc.analyze(q)
    info = {"terms": sorted(an["terms"]), "distributed": an["route"] == "distributed-wand"}
    run.query_info[name] = info
    return info


def serve_request(run: Run, svc, name: str, source: str, rid: int) -> list[tuple[int, float]]:
    """One user request: lower the ReizQL text, then query_topk."""
    from reiz_io_spark.plans.lower import lower_query

    k = run.p["k"]
    if not run.tracer.enabled:
        q = lower_query(name, source)
        return [(r["doc_id"], r["score"]) for r in svc.query_topk(q, k=k)]
    with run.span("bench:request", rid):
        with run.span("plans.lower:lower_query", rid):
            q = lower_query(name, source)
        info = run.query_info.get(name) or describe(run, svc, name, q)
        if info["distributed"]:
            span = "operators.wand:query_topk.distributed"
        else:
            span = "serve:query_topk.driver"
        with run.span(span, rid):
            res = svc.query_topk(q, k=k)
    run.requests.append(info)
    return [(r["doc_id"], r["score"]) for r in res]


def reference_pass(run: Run, svc, answers: dict | None = None) -> None:
    """One pass of the 27 reference queries through query_topk."""
    for i, (name, src) in enumerate(sorted(_queries().items())):
        try:
            got = serve_request(run, svc, name, src, rid=-1 - i)
        except Exception as e:  # a failed request is a failed op
            run.check(False, f"{name}: {type(e).__name__}: {e}")
            continue
        if answers is not None:
            run.check(corpus_mod.same_ranking(got, answers[name]), f"reference {name}")


# ---------------------------------------------------------------- oracle


def oracle_for(run: Run, pdf, queries: dict[str, str], versioned: set | None = None):
    """Oracle top-k for each query over the corpus rows in ``pdf``.
    Rows of repos in ``versioned`` carry version-qualified doc ids."""
    from reiz_io_spark.plans.lower import lower_query

    ids = corpus_mod.doc_ids(pdf)
    if versioned:
        vids = corpus_mod.doc_ids(pdf, versioned=True)
        ids = [v if r in versioned else d for d, v, r in zip(ids, vids, pdf["repo"])]
    py = pdf["lang"] == "python"
    docs = [(d, c) for d, c, keep in zip(ids, pdf["content"], py) if keep]
    oracle = corpus_mod.build_oracle(docs, corpus_mod.work_processes())
    lowered = {n: lower_query(n, s) for n, s in queries.items()}
    return corpus_mod.oracle_answers(oracle, lowered, run.p["k"])


# ----------------------------------------------------------------- build


def build_workload(run: Run) -> dict:
    """Repeated full builds of the cached corpus into fresh directories
    until ``seconds`` of build time have been measured. The set-up's
    base build is the warm-up op: it pays the first-build JVM cost."""
    times: list[float] = []
    dirs: list[str] = []
    run.begin_timed()
    while sum(times) < run.seconds:
        out = os.path.join(run.work, f"build-{len(times)}")
        times.append(build(run, run.corpus_df, out))
        dirs.append(out)
    run.end_timed()

    log(f"timed phase done: {len(times)} builds")
    run.report["build_times_s"] = times
    answers = oracle_for(run, run.pdf, _queries())
    log("oracle done")
    check_builds(run, dirs, answers)
    n = len(run.pdf)
    tail, tail_name = tail_percentile(times)
    return {
        "op_p50_ms": (median(times) * 1e3, len(times)),
        "op_tail_ms": (tail * 1e3, len(times), tail_name),
        "throughput_per_s": (n / median(times), len(times)),
        "answers": answers,
    }


def check_builds(run: Run, dirs: list[str], answers: dict) -> None:
    """After each build, wand_topk_batch over the reference queries must
    equal the oracle (doc-id order, scores within 1e-12)."""
    from reiz_io_spark.operators.score import IndexReader
    from reiz_io_spark.operators.wand import wand_topk_batch
    from reiz_io_spark.plans.queries import lowered_reference_queries

    for out in dirs:
        try:
            rows = wand_topk_batch(
                IndexReader(run.spark, out), lowered_reference_queries(), k=run.p["k"]
            ).collect()
        except Exception as e:
            for name in answers:
                run.check(False, f"build {out}: {type(e).__name__}: {e}")
            continue
        got: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_name"], r["rank"])):
            got.setdefault(r["query_name"], []).append((r["doc_id"], r["score"]))
        for name, want in answers.items():
            run.check(corpus_mod.same_ranking(got.get(name, []), want),
                      f"build {os.path.basename(out)}: {name}")
        shutil.rmtree(out, ignore_errors=True)


# ----------------------------------------------------------------- serve


def serve_pool(run: Run, svc) -> tuple[dict[str, str], list[str], list[str]]:
    """(sources, reference names by popularity, prefix names by
    popularity). Ranks are fixed, so every seed sends the same kinds of
    request at the same rates: reference queries in declaration order,
    prefix queries in pool-spec order; the prefixes are the corpus's
    typical identifiers. Reference queries that ``analyze`` routes to
    distributed WAND are left out: each is a Spark job of ~0.5 s that
    takes every core, so a handful per run set the run's throughput.
    Resolving every query and one ``term_meta`` over the union of their
    terms is the first part of the warm-up: the per-query dictionary
    lookups become one job."""
    sources = _queries()
    prefix_names: list[str] = []  # popularity order: pool spec order
    for spec in run.p["serve_prefix_pool"]:
        for p in corpus_mod.typical_prefixes(run.pdf, spec["digits"], spec["count"]):
            src = spec["template"].replace("{p}", p)
            sources[f"prefix/{src}"] = src
            prefix_names.append(f"prefix/{src}")
    lowered = {n: _lower(n, s) for n, s in sources.items()}
    svc.term_meta(sorted({t for q in lowered.values()
                          for g in svc.resolve_groups(q) for t in g}))
    for n, q in lowered.items():
        if describe(run, svc, n, q)["distributed"]:
            del sources[n]
    run.report["serve_left_out_distributed"] = sorted(set(lowered) - set(sources))
    ref = [n for n in _queries() if n in sources]
    return sources, ref, prefix_names


def schedule(run: Run, ref_order: list[str], prefix_names: list[str], n: int) -> list[str]:
    """``n`` requests in seeded-shuffled cycles of fixed composition:
    ``serve_prefix_share`` for prefix queries, the rest the reference
    queries; zipf 1/(r+1) by rank within each group. A fixed composition
    per cycle keeps rare requests at the same rate in every run,
    whatever the seed."""
    share = run.p["serve_prefix_share"]
    weights: dict[str, float] = {}
    for names, total in ((ref_order, 1.0 - share), (prefix_names, share)):
        z = [1.0 / (r + 1) for r in range(len(names))]
        for name, w in zip(names, z):
            weights[name] = total * w / sum(z)
    cycle_len = run.p["serve_cycle"]
    exact = {k: w * cycle_len for k, w in weights.items()}
    counts = {k: int(v) for k, v in exact.items()}
    for k in sorted(exact, key=lambda k: counts[k] - exact[k])[: cycle_len - sum(counts.values())]:
        counts[k] += 1  # largest remainders
    cycle = [k for k in sorted(counts) for _ in range(counts[k])]
    rng = random.Random(run.seed * 7919 + 1)
    out: list[str] = []
    while len(out) < n:
        rng.shuffle(cycle)
        out.extend(cycle)
    return out[:n]


def serve_workload(run: Run) -> dict:
    """Closed loop: ``serve_clients`` threads, each sending its next
    request when the previous one returns, for ``seconds``."""
    svc = run.svc
    t0 = time.perf_counter()
    sources, ref_order, prefix_names = serve_pool(run, svc)
    for i, (name, src) in enumerate(sorted(sources.items())):  # warm-up op
        serve_request(run, svc, name, src, rid=-1000 - i)
    run.setup["warmup_s"] = time.perf_counter() - t0
    log("warm-up done")
    plan = schedule(run, ref_order, prefix_names, 200_000)

    lock = threading.Lock()
    cursor = iter(enumerate(plan))
    records: list[tuple[float, str, list | None, str | None]] = []
    run.begin_timed()
    start = time.perf_counter()
    deadline = start + run.seconds

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                rid, name = next(cursor)
            t = time.perf_counter()
            try:
                got, err = serve_request(run, svc, name, sources[name], rid), None
            except Exception as e:  # a failed request is a failed op
                got, err = None, f"{type(e).__name__}: {e}"
            records.append((time.perf_counter() - t, name, got, err))

    threads = [threading.Thread(target=client) for _ in range(run.p["serve_clients"])]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    wall = time.perf_counter() - start
    run.end_timed()
    log(f"timed phase done: {len(records)} requests")

    answers = oracle_for(run, run.pdf, {**_queries(), **sources})
    log("oracle done")
    for _lat, name, got, err in records:
        if err is not None:
            run.check(False, f"{name}: {err}")
        else:
            run.check(corpus_mod.same_ranking(got, answers[name]), f"serve {name}")
    lat = [r[0] for r in records]
    tail, tail_name = tail_percentile(lat)
    kinds: dict[str, list[float]] = {}
    for lat_s, name, _got, _err in records:
        kind = "prefix" if name.startswith("prefix/") else "reference"
        kinds.setdefault(kind, []).append(lat_s * 1e3)
    run.report["serve"] = {
        "requests": len(records),
        "p99_ms": percentile(lat, 99) * 1e3,
        "latency_ms_by_kind": {
            k: {"n": len(v), "p50": median(v), "p90": percentile(v, 90),
                "p99": percentile(v, 99), "max": max(v)}
            for k, v in sorted(kinds.items())},
    }
    return {
        "op_p50_ms": (median(lat) * 1e3, len(lat)),
        "op_tail_ms": (tail * 1e3, len(lat), tail_name),
        "throughput_per_s": (len(records) / wall, len(records)),
        "answers": {n: answers[n] for n in _queries()},
    }


def _lower(name: str, src: str):
    from reiz_io_spark.plans.lower import lower_query

    return lower_query(name, src)


WORKLOADS = {"build": build_workload, "serve": serve_workload}


# ------------------------------------------------------------ probes


def probe_codec(run: Run) -> None:
    """functions.codec called directly on a fixed posting sample: every
    block of the reference queries' terms in the base index."""
    from pyspark.sql import functions as F

    from reiz_io_spark.functions import codec
    from reiz_io_spark.functions.hashing import spark_xxhash64

    terms = sorted({t for n, s in _queries().items()
                    for t in run.svc.analyze(_lower(n, s))["terms"]})
    ids = [spark_xxhash64(t) for t in terms]
    pdf = (run.reader.blocks()
           .filter(F.col("term_id").isin(ids))
           .orderBy("term_id", "first_doc_id")
           .toPandas())
    first = pdf["first_doc_id"].to_numpy(np.int64)
    nd = pdf["n_docs"].to_numpy(np.int64)
    streams = [b"".join(pdf[c]) for c in ("doc_deltas", "tfs", "dls")]
    n_post = int(nd.sum())
    reps = 20
    t0 = time.perf_counter()
    for _ in range(reps):
        with run.span("functions.codec:decode_postings_batch"):
            docs, tfs, dls = codec.decode_postings_batch(first, nd, *streams)
    dec_s = (time.perf_counter() - t0) / reps
    rows = pdf.to_dict("records")
    t0 = time.perf_counter()
    with run.span("functions.codec:decode_block"):
        parts = [codec.decode_block(r) for r in rows]
    blk_s = (time.perf_counter() - t0) / max(1, len(rows))
    tids = np.repeat(pdf["term_id"].to_numpy(np.int64), nd)
    order = np.lexsort((docs, tids))
    tids, docs_s, tfs_s, dls_s = tids[order], docs[order], tfs[order], dls[order]
    frag = np.empty(tids.size, dtype=bool)
    frag[0] = True
    frag[1:] = tids[1:] != tids[:-1]
    t0 = time.perf_counter()
    for _ in range(reps):
        with run.span("functions.codec:encode_blocks_arrow"):
            batch = codec.encode_blocks_arrow(tids, docs_s, tfs_s, dls_s, frag, 128, 32)
    enc_s = (time.perf_counter() - t0) / reps
    # round trip: the encoded sample decodes back to the same postings
    rt = batch.to_pandas()
    d2, t2, l2 = codec.decode_postings_batch(
        rt["first_doc_id"].to_numpy(np.int64), rt["n_docs"].to_numpy(np.int64),
        *[b"".join(rt[c]) for c in ("doc_deltas", "tfs", "dls")])
    run.check(np.array_equal(d2, docs_s) and np.array_equal(t2, tfs_s)
              and np.array_equal(l2, dls_s), "codec round trip")
    run.check(int(sum(p[0].size for p in parts)) == n_post, "decode_block count")
    run.layer.update({
        "codec.decode_mpostings_per_s": n_post / dec_s / 1e6,
        "codec.encode_mpostings_per_s": n_post / enc_s / 1e6,
        "codec.decode_block_us": blk_s * 1e6,
    })
    run.report["codec_sample"] = {"postings": n_post, "blocks": len(rows)}


def _contents(run: Run, doc_ids: list[int]) -> dict[int, str]:
    from pyspark.sql import functions as F

    if not doc_ids:
        return {}
    in_list = ",".join(str(int(d)) for d in doc_ids)
    rows = (run.reader.content().filter(F.expr(f"doc_id IN ({in_list})"))
            .select("doc_id", "content").collect())
    return {r["doc_id"]: r["content"] for r in rows}


def probe_matcher(run: Run, answers: dict) -> None:
    """plans.matcher.match_spans timed per document on the top
    documents of each reference query."""
    from reiz_io_spark.plans.matcher import match_spans

    per = run.p["matcher_probe_docs_per_query"]
    want = {n: [d for d, _ in answers[n][:per]] for n in answers}
    content = _contents(run, sorted({d for v in want.values() for d in v}))
    for name, ids in sorted(want.items()):
        src = _queries()[name]
        for d in ids:
            with run.span("plans.matcher:match_spans"):
                try:
                    match_spans(content[d], src)
                except SyntaxError:
                    pass


def probe_verify(run: Run) -> None:
    """query_positions on the probe queries; every reported span is
    re-confirmed by plans.matcher.match_spans on the document."""
    from reiz_io_spark.plans.matcher import match_spans

    counts = []
    for name in run.p["verify_probe_queries"]:
        src = _queries()[name]
        q = _lower(name, src)
        try:
            with run.span("operators.verify:query_positions"):
                res = run.svc.query_positions(q, k=run.p["k"])
        except Exception as e:
            run.check(False, f"verify {name}: {type(e).__name__}: {e}")
            continue
        counts.append(len(res))
        content = _contents(run, [r["doc_id"] for r in res])
        for r in res:
            spans = {(s[0], s[1], s[2], s[4]) for s in match_spans(content[r["doc_id"]], src)}
            ok = all((m["lineno"], m["col_offset"], m["end_lineno"], m["segment"]) in spans
                     for m in r["matches"])
            run.check(ok and bool(r["matches"]), f"verify {name} doc {r['doc_id']}")
    run.layer["verify.results_per_query"] = float(np.mean(counts)) if counts else 0.0


def probe_maintain(run: Run) -> None:
    """One update_docs commit (one repo's files, changed content), one
    delete_docs commit (another repo) and one compact_deletes, each
    followed by refresh_if_stale; then a reference pass checked against
    the oracle over the final corpus state."""
    from pyspark.sql import functions as F

    from reiz_io_spark.operators.deletes import compact_deletes, delete_docs
    from reiz_io_spark.operators.updates import update_docs
    from reiz_io_spark.schema import CORPUS
    from reiz_io_spark.sources.corpus import GOLDEN_REPO

    rng = random.Random(run.seed + 17)
    repos = sorted(r for r in set(run.pdf["repo"]) if r != GOLDEN_REPO)
    up_repo, del_repo = rng.sample(repos, 2)
    pdf = run.pdf.copy()
    mask = pdf["repo"] == up_repo
    pdf.loc[mask, "content"] = pdf.loc[mask, "content"] + (
        f"\n\ndef maintained_{run.seed}(x):\n    return len(x)\n")
    changed = run.spark.createDataFrame(pdf[mask], CORPUS)
    n_changed = int(mask.sum())

    before = file_sizes(run.index_dir)
    with run.span("operators.updates:update_docs"):
        update_docs(run.spark, run.index_dir, changed)
    after = file_sizes(run.index_dir)
    wrote = sum(s for p, s in after.items() if before.get(p) != s)
    with run.span("serve:refresh_if_stale"):
        run.svc.refresh_if_stale()
    with run.span("operators.deletes:delete_docs"):
        delete_docs(run.spark, run.index_dir, F.col("repo") == del_repo)
    with run.span("serve:refresh_if_stale"):
        run.svc.refresh_if_stale()
    before = file_sizes(run.index_dir)
    with run.span("operators.deletes:compact_deletes"):
        compact_deletes(run.spark, run.index_dir)
    after = file_sizes(run.index_dir)
    rewrote = sum(s for p, s in after.items() if before.get(p) != s)
    with run.span("serve:refresh_if_stale"):
        run.svc.refresh_if_stale()

    final = pdf[pdf["repo"] != del_repo].reset_index(drop=True)
    answers = oracle_for(run, final, _queries(), versioned={up_repo})
    reference_pass(run, run.svc, answers)
    run.layer.update({
        "update.bytes_written": float(wrote),
        "update.bytes_written_per_changed_doc": wrote / max(1, n_changed),
        "delete.compact_bytes_rewritten": float(rewrote),
    })
    run.report["maintain_probe"] = {"update_repo": up_repo, "delete_repo": del_repo,
                                    "changed_docs": n_changed}


def index_counts(run: Run) -> None:
    from pyspark.sql import functions as F

    row = run.reader.dictionary().agg(
        F.count("*").alias("n_terms"), F.sum("df").alias("n_postings"),
        F.sum(F.when(F.col("df") > run.fragment_postings, 1).otherwise(0)).alias("salted"),
    ).collect()[0]
    blocks = dir_bytes(run.reader.paths["blocks"])
    n_post = int(row["n_postings"])
    run.layer.update({
        "build.n_postings": float(n_post),
        "build.n_terms": float(row["n_terms"]),
        "build.salted_terms": float(row["salted"]),
        "build.blocks_bytes": float(blocks),
        "build.bytes_per_posting": blocks / max(1, n_post),
    })


# ---------------------------------------------------------- per-layer


def per_layer(run: Run, wall_s: float) -> dict[str, float]:
    tr = run.tracer

    def med(name: str, scale: float = 1.0) -> float:
        d = tr.durations(name)
        return median(d) * scale if d else 0.0

    n_files = len(run.pdf)
    ingest = med("operators.build:stage1_ingest")
    merge = med("operators.build:merge_and_encode")
    out = dict(run.layer)
    out.update({
        "corpus.gen_s": med("sources.corpus:synth_corpus_distributed"),
        "build.ingest_s": ingest,
        "build.ingest_files_per_s": n_files / ingest if ingest else 0.0,
        "build.merge_encode_s": merge,
        "build.postings_per_s": out["build.n_postings"] / merge if merge else 0.0,
        "reader.open_s": med("operators.score:IndexReader"),
        "lower.query_ms": med("plans.lower:lower_query", 1e3),
        "serve.analyze_ms": med("serve:analyze", 1e3),
        "serve.topk_driver_ms": med("serve:query_topk.driver", 1e3),
        "serve.topk_distributed_ms": med("operators.wand:query_topk.distributed", 1e3),
        "serve.refresh_s": med("serve:refresh_if_stale"),
        "verify.positions_ms": med("operators.verify:query_positions", 1e3),
        "matcher.match_spans_ms": med("plans.matcher:match_spans", 1e3),
        "update.commit_s": med("operators.updates:update_docs"),
        "delete.commit_s": med("operators.deletes:delete_docs"),
        "delete.compact_s": med("operators.deletes:compact_deletes"),
    })
    seen: set[str] = set()
    new_fracs, terms = [], []
    for r in run.requests:
        t = r["terms"]
        terms.append(len(t))
        if t:
            new_fracs.append(sum(1 for x in t if x not in seen) / len(t))
        seen.update(t)
    out["serve.terms_per_query"] = float(np.mean(terms)) if terms else 0.0
    out["serve.new_terms_frac"] = float(np.mean(new_fracs)) if new_fracs else 0.0
    out["serve.distributed_frac"] = (
        sum(r["distributed"] for r in run.requests) / len(run.requests)
        if run.requests else 0.0)
    self_t = tr.self_times()
    for layer in LAYERS:
        out[f"self_s.{layer}"] = self_t.get(layer, 0.0)
    cost = tr.span_cost_s()
    out["trace.span_cost_us"] = cost * 1e6
    out["trace.overhead_frac"] = len(tr.spans) * cost / wall_s
    return out

