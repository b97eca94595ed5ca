"""Index integrity checker (``cli fsck``): the pytest-proven invariants
as a first-class operational tool.

An index that takes updates, deletes, compactions, merges, and
resharding needs a way to ANSWER "is this directory healthy?" without
running the test suite. Two tiers:

- **light** (default): metadata-level — committed dirs resolve, the
  dictionary is collision-free with positive df, collection stats
  equal the lineage totals minus the folded ledger (the exact
  arithmetic every commit path maintains), the tombstone ledger counts
  match meta, and the snapshot log parses.
- **deep** (``--deep``): data-level — blocks decode and every term's
  posting count equals its dictionary df; no tombstoned doc_id
  survives in the blocks (pending are masked at read, folded must be
  physically gone); per-(batch, shard) content_sha_xor recomputed from
  the docs table equals the lineage fingerprint (bit-rot check on the
  forward index). Deep reads every block once — cost of one full
  compaction scan, partition-parallel.

Returns {check: {"ok": bool, "detail": str}}; the CLI exits non-zero
if any check fails. Designed to run against a LIVE index: it reads one
meta snapshot and never takes locks (pure reader).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schema import DICTIONARY_ON_DISK, DOCS_ON_DISK, LINEAGE
from .build import _decode_blocks_to_postings, _paths, snapshots, table_dir


def fsck_index(
    spark: SparkSession, index_dir: str, deep: bool = False
) -> dict[str, dict]:
    report: dict[str, dict] = {}

    def ok(name: str, cond: bool, detail: str = "") -> None:
        report[name] = {"ok": bool(cond), "detail": detail}

    p = _paths(index_dir)
    try:
        with open(p["meta"]) as fh:
            meta = json.load(fh)
    except (OSError, json.JSONDecodeError) as exc:
        ok("meta_readable", False, str(exc))
        return report
    ok("meta_readable", True, f"version {meta.get('version')}")

    # --- referenced structures resolve --------------------------------------
    missing = [
        t for t in ("dictionary", "blocks")
        if not os.path.isdir(table_dir(index_dir, meta, t))
    ] + [
        t for t in ("docs", "content", "lineage")
        if not os.path.isdir(p[t])
    ]
    ok("dirs_resolve", not missing, f"missing: {missing}" if missing else "")
    if missing:
        return report

    ledger = None
    if meta.get("tombstones_dir"):
        tdir = os.path.join(index_dir, meta["tombstones_dir"])
        if not os.path.isdir(tdir):
            ok("ledger_resolves", False, f"{meta['tombstones_dir']} missing")
        else:
            from .deletes import TOMBSTONES_SCHEMA

            ledger = spark.read.schema(TOMBSTONES_SCHEMA).parquet(tdir)
            row = ledger.agg(
                F.count("*").alias("n"),
                F.sum(F.when(~F.col("folded"), 1).otherwise(0)).alias("p"),
            ).collect()[0]
            ok(
                "ledger_counts_match_meta",
                int(row["n"]) == int(meta.get("n_tombstones", -1))
                and int(row["p"] or 0)
                == int(meta.get("n_tombstones_pending", -1)),
                f"ledger {row['n']}/{row['p'] or 0} vs meta "
                f"{meta.get('n_tombstones')}/{meta.get('n_tombstones_pending')}",
            )

    # --- dictionary: one row per term, no id collisions, df > 0 -------------
    dictionary = spark.read.schema(DICTIONARY_ON_DISK).parquet(
        table_dir(index_dir, meta, "dictionary")
    )
    inv = dictionary.agg(
        F.count("*").alias("n"),
        F.countDistinct("term_id").alias("ids"),
        F.countDistinct("term").alias("terms"),
        F.sum(F.when(F.col("df") <= 0, 1).otherwise(0)).alias("bad_df"),
    ).collect()[0]
    ok(
        "dictionary_invariants",
        int(inv["n"]) == int(inv["ids"]) == int(inv["terms"])
        and int(inv["bad_df"] or 0) == 0,
        f"{inv['n']} terms, {inv['ids']} ids, {inv['bad_df'] or 0} df<=0",
    )

    # --- collection stats == MERGED-lineage totals - folded ledger -----------
    # merged batches only: a landed-but-unmerged batch has lineage rows
    # but no postings in the blocks; its docs join the stats at its own
    # merge commit (and its tombstones stay pending until then)
    lin = spark.read.schema(LINEAGE).parquet(p["lineage"]).filter(
        F.col("status") == "done"
    )
    stats = lin.filter(
        F.col("build_id").isin(list(meta.get("merged_batches", [])))
    ).agg(
        F.sum(F.col("n_files") - F.col("n_parse_failed")).alias("n"),
        F.sum("n_terms").alias("dl"),
    ).collect()[0]
    del_n = del_dl = 0
    if ledger is not None:
        drow = ledger.filter(F.col("folded") & F.col("parse_ok")).agg(
            F.count("*").alias("n"), F.sum("doclen").alias("dl")
        ).collect()[0]
        del_n, del_dl = int(drow["n"] or 0), int(drow["dl"] or 0)
    want_n = int(stats["n"] or 0) - del_n
    want_dl = int(stats["dl"] or 0) - del_dl
    want_avgdl = want_dl / want_n if want_n else 0.0
    ok(
        "stats_match_lineage",
        int(meta.get("n_docs", -1)) == want_n
        and int(meta.get("total_dl", -1)) == want_dl
        and float(meta.get("avgdl", -1.0)) == want_avgdl,
        f"meta ({meta.get('n_docs')}, {meta.get('total_dl')}) vs "
        f"lineage-ledger ({want_n}, {want_dl})",
    )

    # --- snapshot log parses --------------------------------------------------
    try:
        snaps = snapshots(index_dir)
        ok(
            "snapshot_log",
            any(s["version"] == int(meta.get("version", -1)) for s in snaps)
            or not snaps,
            f"{len(snaps)} snapshots",
        )
    except Exception as exc:  # noqa: BLE001 - report, never crash fsck
        ok("snapshot_log", False, str(exc))

    if not deep:
        return report

    # --- deep: blocks decode; per-term counts == df ---------------------------
    from ..schema import BLOCKS_ON_DISK

    blocks = spark.read.schema(BLOCKS_ON_DISK).parquet(
        table_dir(index_dir, meta, "blocks")
    )
    postings = _decode_blocks_to_postings(blocks)
    per_term = postings.groupBy("term_id").agg(F.count("*").alias("n"))
    mism = (
        dictionary.select("term_id", "df")
        .join(per_term, "term_id", "full_outer")
        .filter(
            F.coalesce("df", F.lit(0)) != F.coalesce("n", F.lit(0))
        )
        .count()
    )
    ok("blocks_match_dictionary_df", mism == 0, f"{mism} terms mismatch")

    # --- deep: folded tombstones physically absent ----------------------------
    if ledger is not None:
        resurrected = postings.join(
            F.broadcast(
                ledger.filter(F.col("folded")).select("doc_id")
            ),
            "doc_id",
            "left_semi",
        ).count()
        ok(
            "folded_docs_absent_from_blocks",
            resurrected == 0,
            f"{resurrected} folded postings present",
        )

    # --- deep: lineage content fingerprints hold ------------------------------
    docs = spark.read.schema(DOCS_ON_DISK).parquet(p["docs"])
    got = (
        docs.groupBy("batch", "shard")
        .agg(
            F.format_string(
                "%016x", F.expr("bit_xor(xxhash64(content_sha256))")
            ).alias("x"),
            F.count("*").alias("n_files"),
        )
    )
    bad = (
        lin.select(
            F.col("build_id").alias("batch"), "shard",
            F.col("content_sha_xor").alias("want"),
            F.col("n_files").alias("want_files"),
        )
        .join(got, ["batch", "shard"], "full_outer")
        .filter(
            (F.col("want") != F.col("x"))
            | (F.col("want_files") != F.col("n_files"))
            | F.col("want").isNull() | F.col("x").isNull()
        )
        .count()
    )
    ok("lineage_fingerprints", bad == 0, f"{bad} (batch, shard) mismatch")
    return report


def fsck_ann_index(
    spark: SparkSession, index_dir: str, deep: bool = False
) -> dict[str, dict]:
    """ANN-index twin of fsck_index: sidecar shapes agree with meta,
    committed segments resolve and their row counts sum to
    meta.n_vectors, the tombstone ledger is sorted/unique and within
    the scan-closure cap; --deep additionally proves no vec_id appears
    in two segments (the append/compact invariant that makes deletion
    by id well-defined)."""
    import numpy as np

    report: dict[str, dict] = {}

    def ok(name: str, cond: bool, detail: str = "") -> None:
        report[name] = {"ok": bool(cond), "detail": detail}

    try:
        with open(os.path.join(index_dir, "meta.json")) as fh:
            meta = json.load(fh)
    except (OSError, json.JSONDecodeError) as exc:
        ok("meta_readable", False, str(exc))
        return report
    ok("meta_readable", True, f"version {meta.get('version')}")

    try:
        centroids = np.load(os.path.join(index_dir, "centroids.npy"))
        codebooks = np.load(os.path.join(index_dir, "codebooks.npy"))
        shape_ok = (
            centroids.shape[0] == int(meta["n_lists"])
            and centroids.shape[1] == int(meta["dim"])
            and codebooks.shape[0] == int(meta["m"])
            and codebooks.shape[1] == int(meta["n_codes"])
            and codebooks.shape[2] * int(meta["m"]) == int(meta["dim"])
        )
        ok(
            "quantizer_shapes",
            shape_ok,
            f"centroids {centroids.shape}, codebooks {codebooks.shape}",
        )
    except (OSError, ValueError, KeyError) as exc:
        ok("quantizer_shapes", False, str(exc))
        return report

    from .ann_index import _segment_dirs

    seg_dirs = _segment_dirs(index_dir, meta)
    missing = [d for d in seg_dirs if not os.path.isdir(d)]
    ok("segments_resolve", not missing, f"missing: {missing}" if missing else
       f"{len(seg_dirs)} segments")
    if missing:
        return report
    total = 0
    union = None
    for d in seg_dirs:
        df = spark.read.schema(
            "vec_id long, codes array<int>, list_id int"
        ).parquet(d)
        total += df.count()
        union = df if union is None else union.unionByName(df)
    ok(
        "n_vectors_matches_segments",
        total == int(meta.get("n_vectors", -1)),
        f"segments hold {total}, meta says {meta.get('n_vectors')}",
    )

    if meta.get("ann_tombstones"):
        p = os.path.join(index_dir, meta["ann_tombstones"])
        if not os.path.exists(p):
            ok("ann_ledger_resolves", False, f"{meta['ann_tombstones']} missing")
        else:
            arr = np.load(p)
            sorted_unique = bool(
                np.all(arr[:-1] < arr[1:])
            ) if arr.size > 1 else True
            ok(
                "ann_ledger_sorted_unique",
                sorted_unique
                and int(meta.get("n_deleted_pending", -1)) == int(arr.size),
                f"{arr.size} pending",
            )

    if deep and union is not None:
        dup = (
            union.groupBy("vec_id").count().filter(F.col("count") > 1).count()
        )
        ok("no_duplicate_vec_ids", dup == 0, f"{dup} duplicated ids")
    return report


def fsck_trigrams(
    spark: SparkSession, index_dir: str, deep: bool = False
) -> dict[str, dict]:
    """Trigram-sidecar twin of fsck_index (VERDICT r06 #8). The sidecar
    has the same class of invariants as the main index — atomic meta
    flips, generation dirs no reader should lose, coverage bookkeeping,
    encoded fragments that must decode to what the dictionary promises:

    - **light**: sidecar meta parses; every committed generation's
      postings+dictionary dirs resolve; covered_batches still exist in
      the content table's hive layout; staleness vs the content batches
      on disk is REPORTED (a stale sidecar is legal — grep refuses it
      unless allow_stale — so it does not fail fsck); a leftover
      update.lock is reported (live writer or crash debris).
    - **deep**: every fragment decodes (delta+varint) to exactly
      ``n_docs`` strictly-increasing doc_ids starting at
      ``first_doc_id``; ``bucket`` equals the query-side bucket
      function (a mismatch would make partition pruning silently skip
      the fragment); hot-trigram fragments carry the salt their
      members hash to (pmod(xxhash64(doc_id), n_salts), the purity the
      seek relies on); each generation's dictionary df equals the sum
      of its fragments' n_docs per trigram; and the MERGED per-trigram
      df equals a recount from the covered content batches — the
      content-identical guarantee (bit-rot + lost-fragment check).
    """
    import numpy as np

    from ..functions import codec
    from .regexsearch import (
        N_TG_BUCKETS,
        TG_FRAGMENT,
        _content_batches,
        _gen_dictionary,
        _gen_postings,
        _tg_paths,
    )

    report: dict[str, dict] = {}

    def ok(name: str, cond: bool, detail: str = "") -> None:
        report[name] = {"ok": bool(cond), "detail": detail}

    p = _tg_paths(index_dir)
    try:
        with open(p["meta"]) as fh:
            tmeta = json.load(fh)
    except (OSError, json.JSONDecodeError) as exc:
        ok("tg_meta_readable", False, str(exc))
        return report
    ok("tg_meta_readable", True, f"commit {tmeta.get('commit')}")

    gens = list(tmeta.get("generations", []))
    missing = [
        g for g in gens
        if not (os.path.isdir(_gen_postings(p["base"], g))
                and os.path.isdir(_gen_dictionary(p["base"], g)))
    ]
    ok("tg_generations_resolve", not missing,
       f"missing: {missing}" if missing else f"{len(gens)} generations")

    covered = sorted(tmeta.get("covered_batches", []))
    on_disk = _content_batches(index_dir)
    gone = sorted(set(covered) - set(on_disk))
    ok("tg_covered_batches_exist", not gone,
       f"covered batches gone from content: {gone}" if gone else "")
    uncovered = sorted(set(on_disk) - set(covered))
    ok("tg_staleness", True,  # reported, never a failure (see docstring)
       f"STALE — uncovered content batches: {uncovered}" if uncovered
       else "fresh")
    ok("tg_no_writer_lock", not os.path.exists(p["lock"]),
       "update.lock present (live writer or crash debris)"
       if os.path.exists(p["lock"]) else "")
    ok(
        "tg_bucket_config",
        int(tmeta.get("n_term_buckets", -1)) == N_TG_BUCKETS,
        f"sidecar {tmeta.get('n_term_buckets')} vs code {N_TG_BUCKETS}",
    )

    if not deep or missing or not gens:
        return report

    # --- deep: fragments decode; per-generation df; salt purity ------------
    schema = (
        "tg long, salt int, first_doc_id long, n_docs long, "
        "doc_deltas binary, bucket int"
    )
    from ..functions.hashing import spark_xxhash64

    total_bad = {"decode": 0, "bucket": 0, "salt": 0}
    df_mismatch = 0
    merged_df: dict | None = {}
    for g in gens:
        posts = spark.read.schema(schema).parquet(_gen_postings(p["base"], g))
        gdict = spark.read.schema("tg long, df long").parquet(
            _gen_dictionary(p["base"], g)
        )
        hot = {
            int(r["tg"]): -(-int(r["df"]) // TG_FRAGMENT)
            for r in gdict.filter(F.col("df") > TG_FRAGMENT).collect()
        }

        def _check(pdf_iter, hot=hot):
            import pandas as pd

            for pdf in pdf_iter:
                bad_dec = bad_bkt = bad_salt = 0
                for tg, salt, first, n, buf, bkt in zip(
                    pdf["tg"], pdf["salt"], pdf["first_doc_id"],
                    pdf["n_docs"], pdf["doc_deltas"], pdf["bucket"],
                ):
                    try:
                        ids = codec.delta_decode_docids(
                            int(first), bytes(buf), int(n)
                        )
                    except Exception:
                        bad_dec += 1
                        continue
                    if (
                        ids.size != int(n)
                        or (ids.size and int(ids[0]) != int(first))
                        or (ids.size > 1 and not bool(np.all(ids[:-1] < ids[1:])))
                    ):
                        bad_dec += 1
                    if int(bkt) != spark_xxhash64(int(tg)) % N_TG_BUCKETS:
                        bad_bkt += 1
                    ns = hot.get(int(tg), 1)
                    if ns > 1:
                        salts = np.array(
                            [spark_xxhash64(int(d)) % ns for d in ids],
                            dtype=np.int64,
                        )
                        if not bool(np.all(salts == int(salt))):
                            bad_salt += 1
                    elif int(salt) != 0:
                        bad_salt += 1
                yield pd.DataFrame(
                    {"bad_dec": [bad_dec], "bad_bkt": [bad_bkt],
                     "bad_salt": [bad_salt]}
                )

        agg = posts.mapInPandas(
            _check, schema="bad_dec long, bad_bkt long, bad_salt long"
        ).agg(
            F.sum("bad_dec").alias("d"), F.sum("bad_bkt").alias("b"),
            F.sum("bad_salt").alias("s"),
        ).collect()[0]
        total_bad["decode"] += int(agg["d"] or 0)
        total_bad["bucket"] += int(agg["b"] or 0)
        total_bad["salt"] += int(agg["s"] or 0)

        # generation dictionary df == sum of fragment sizes per trigram
        frag_df = posts.groupBy("tg").agg(F.sum("n_docs").alias("n"))
        df_mismatch += (
            gdict.join(frag_df, "tg", "full_outer")
            .filter(F.coalesce("df", F.lit(0)) != F.coalesce("n", F.lit(0)))
            .count()
        )
        if merged_df is not None:
            for r in gdict.collect():
                merged_df[int(r["tg"])] = (
                    merged_df.get(int(r["tg"]), 0) + int(r["df"])
                )

    ok("tg_fragments_decode", total_bad["decode"] == 0,
       f"{total_bad['decode']} fragments fail decode/sort/first")
    ok("tg_bucket_function", total_bad["bucket"] == 0,
       f"{total_bad['bucket']} fragments in the wrong bucket")
    ok("tg_salt_purity", total_bad["salt"] == 0,
       f"{total_bad['salt']} fragments with impure salt")
    ok("tg_dictionary_matches_fragments", df_mismatch == 0,
       f"{df_mismatch} trigrams df!=fragment sum")

    # --- deep: merged df == recount from the covered content ---------------
    from ..schema import CONTENT_ON_DISK

    content = (
        spark.read.schema(CONTENT_ON_DISK)
        .parquet(os.path.join(index_dir, "content"))
        .filter(F.col("batch").isin(covered))
        .select("doc_id", "content")
    )

    def _recount(pdf_iter):
        import pandas as pd

        for pdf in pdf_iter:
            tgs = []
            for text in pdf["content"]:
                b = text.encode("utf-8")
                if len(b) < 3:
                    continue
                a = np.frombuffer(b, dtype=np.uint8).astype(np.int64)
                tgs.append(np.unique((a[:-2] << 16) | (a[1:-1] << 8) | a[2:]))
            yield pd.DataFrame(
                {"tg": np.concatenate(tgs) if tgs
                 else np.empty(0, dtype=np.int64)}
            )

    want = {
        int(r["tg"]): int(r["n"])
        for r in content.mapInPandas(_recount, schema="tg long")
        .groupBy("tg").agg(F.count("*").alias("n")).collect()
    }
    extra = {t for t in merged_df if t not in want}
    lost = {t for t in want if t not in merged_df}
    wrong = {
        t for t in merged_df
        if t in want and merged_df[t] != want[t]
    }
    ok(
        "tg_df_matches_content_recount",
        not (extra or lost or wrong),
        f"{len(extra)} phantom / {len(lost)} lost / {len(wrong)} wrong-df "
        f"trigrams",
    )
    return report


def fsck_federation(
    spark: SparkSession, index_dirs: list[str], deep: bool = False
) -> dict[str, dict]:
    """Federation-level integrity: the invariants the shard-local
    checkers cannot see.

    - every shard passes its own fsck_index (light or deep — per-shard
      failures are namespaced `shard<i>.<check>`);
    - shards agree on the BM25/layout params that make scores globally
      comparable (k1, b, block_size, fragment_postings — the same
      refusal score.shard_stats enforces at query time);
    - live doc_ids are DISJOINT across shards (the property every
      federated merge relies on: metadata joins expect one owner,
      dfs stats would double-count a doc indexed twice). Tombstoned
      ids are excluded — a doc legitimately deleted on one shard and
      re-ingested on another is healthy;
    - routing (informational): whether every live doc sits on the
      shard its pmod(xxhash64(repo), N) hash names. A False here is
      REPORTED but not a failure — resharding to a different N or
      custom placement is legal; disjointness is the correctness
      invariant, routing is the convention.
    """
    report: dict[str, dict] = {}

    def ok(name: str, cond: bool, detail: str = "") -> None:
        report[name] = {"ok": bool(cond), "detail": detail}

    metas = []
    for i, d in enumerate(index_dirs):
        sub = fsck_index(spark, d, deep=deep)
        for k, v in sub.items():
            report[f"shard{i}.{k}"] = v
        try:
            with open(os.path.join(d, "meta.json")) as fh:
                metas.append(json.load(fh))
        except (OSError, json.JSONDecodeError):
            metas.append({})
    for key in ("k1", "b", "block_size", "fragment_postings"):
        vals = {m.get(key) for m in metas}
        ok(
            f"fed_params_agree_{key}", len(vals) == 1,
            f"{sorted(map(str, vals))}" if len(vals) != 1 else "",
        )

    from .deletes import read_tombstones

    live = None
    for i, d in enumerate(index_dirs):
        docs = spark.read.schema(DOCS_ON_DISK).parquet(
            _paths(d)["docs"]
        ).select("doc_id", "repo")
        tomb = read_tombstones(spark, d, metas[i])
        if tomb is not None:
            docs = docs.join(tomb.select("doc_id"), "doc_id", "left_anti")
        part = docs.withColumn("fed_shard", F.lit(i))
        live = part if live is None else live.unionByName(part)
    dup = (
        live.groupBy("doc_id")
        .agg(F.countDistinct("fed_shard").alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    ok("fed_doc_ids_disjoint", dup == 0, f"{dup} doc_ids live on 2+ shards")
    n = len(index_dirs)
    misrouted = live.filter(
        F.pmod(F.xxhash64("repo"), F.lit(n)).cast("int") != F.col("fed_shard")
    ).count()
    ok(
        "fed_routing_convention", True,  # informational, never a failure
        f"{misrouted} live docs off their pmod(xxhash64(repo), {n}) shard"
        if misrouted else "all docs on their hash shard",
    )
    return report
