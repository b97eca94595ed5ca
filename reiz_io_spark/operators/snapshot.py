"""Snapshot export: clone a committed index snapshot to a new
directory — the backup/restore/promote-to-serving operation every
index deployment needs (the Elasticsearch snapshot-API role; the
reference delegates durability to EdgeDB/PostgreSQL backups,
reiz/serialization/insert.py, so this surface is ours to define).

Contract:

- the clone answers every query bit-identically to the SOURCE SNAPSHOT
  (the meta.json read at entry — one atomic pointer pair, so the clone
  never mixes a new dictionary with old blocks even if a merge commits
  mid-copy);
- the clone is INDEPENDENT: later mutations of the source (deletes,
  updates, merges, compactions) do not reach it, and vice versa;
- `at_version=N` exports a retained earlier snapshot (time travel) —
  the clone's meta.json IS that snapshot;
- pure file operations, no Spark jobs: at 10^12-doc scale this is a
  parallel object-store copy (distcp / S3 batch); the driver-side
  shutil here is the same control flow at sandbox size.

Concurrency: safe against query traffic and committed mutations
(readers never write; committed table dirs are immutable). Like any
file-level backup it must not race an ACTIVELY LANDING ingest batch —
the append-only docs/content logs could be mid-write. Export
refuses while a writer lock (deletes.lock / trigram lock) is held and
verifies the clone with fsck by default; run it from the same
scheduling slot as compactions.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession

from .build import _paths, table_dir

_WRITER_LOCKS = ("deletes.lock",)


class ExportRacesWriter(RuntimeError):
    pass


def export_snapshot(
    spark: SparkSession,
    index_dir: str,
    dest_dir: str,
    at_version: int | None = None,
    include_sidecars: bool = True,
    verify: bool = True,
) -> dict:
    """Copy one committed snapshot of ``index_dir`` into ``dest_dir``
    (which must not already hold an index). Returns the clone's meta.
    ``include_sidecars`` also carries a committed trigram sidecar
    (derived data — the clone could rebuild it, but carrying it makes
    restore-to-serving instant). ``verify`` runs the light fsck tier
    on the clone and raises on any failed check."""
    for lock in _WRITER_LOCKS:
        if os.path.exists(os.path.join(index_dir, lock)):
            raise ExportRacesWriter(
                f"{lock} is held — a writer is mid-commit; re-run "
                f"export_snapshot when the mutation finishes"
            )
    meta_name = (
        "meta.json" if at_version is None else f"meta_v{int(at_version)}.json"
    )
    meta_path = os.path.join(index_dir, meta_name)
    if not os.path.exists(meta_path):
        raise FileNotFoundError(
            f"no committed snapshot at {meta_path} (see build.snapshots())"
        )
    with open(meta_path) as fh:
        meta = json.load(fh)

    if os.path.exists(os.path.join(dest_dir, "meta.json")):
        raise RuntimeError(
            f"{dest_dir} already holds a committed index — refusing an "
            f"in-place overwrite (export to a fresh dir and swap)"
        )
    os.makedirs(dest_dir, exist_ok=True)

    # append-only logs + lineage: the whole dirs
    copied = []
    for name in ("docs", "content", "lineage"):
        src = os.path.join(index_dir, name)
        if os.path.isdir(src):
            shutil.copytree(src, os.path.join(dest_dir, name),
                            dirs_exist_ok=False)
            copied.append(name)
    # versioned tables: ONLY the dirs this snapshot references. A dir
    # the exported meta NAMES but that is absent (e.g. an at_version
    # snapshot whose tables were already GC'd — retention is
    # current+previous) is a HARD error: silently skipping it would
    # write a clone whose meta.json points at nonexistent dirs, and
    # with verify=False the corruption surfaces only at first query
    # (ADVICE r07).
    for table in ("dictionary", "blocks"):
        src = table_dir(index_dir, meta, table)
        if not os.path.isdir(src):
            raise FileNotFoundError(
                f"export_snapshot: {table} dir {src!r} named by the "
                f"exported meta does not exist — the snapshot's data "
                f"was GC'd (retention keeps current+previous only); "
                f"export a retained version"
            )
        shutil.copytree(
            src, os.path.join(dest_dir, os.path.basename(src))
        )
        copied.append(os.path.basename(src))
    # delete ledger of this snapshot, if any — same discipline: meta
    # names it, so it must exist
    tomb = meta.get("tombstones_dir")
    if tomb:
        if not os.path.isdir(os.path.join(index_dir, tomb)):
            raise FileNotFoundError(
                f"export_snapshot: tombstones dir {tomb!r} named by the "
                f"exported meta does not exist — the ledger was GC'd; "
                f"export a retained version"
            )
        shutil.copytree(
            os.path.join(index_dir, tomb), os.path.join(dest_dir, tomb)
        )
        copied.append(tomb)
    if include_sidecars:
        tg = os.path.join(index_dir, "trigrams")
        if os.path.exists(os.path.join(tg, "meta.json")):
            if os.path.exists(os.path.join(tg, "update.lock")):
                raise ExportRacesWriter(
                    "trigram sidecar writer is mid-commit — re-run when "
                    "build/update_trigram_index finishes (or pass "
                    "include_sidecars=False)"
                )
            shutil.copytree(tg, os.path.join(dest_dir, "trigrams"))
            copied.append("trigrams")

    # the commit point: the clone's current snapshot IS the exported one
    # (earlier snapshot pointers are not carried — their table dirs may
    # be GC'd at the source; the clone starts its own retention window)
    with open(os.path.join(dest_dir, f"meta_v{meta['version']}.json"),
              "w") as fh:
        json.dump(meta, fh)
    tmp = os.path.join(dest_dir, "meta.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, os.path.join(dest_dir, "meta.json"))

    if verify:
        from .fsck import fsck_index

        report = fsck_index(spark, dest_dir, deep=False)
        bad = {k: v for k, v in report.items() if not v["ok"]}
        if bad:
            raise RuntimeError(f"exported clone fails fsck: {bad}")
    return meta
