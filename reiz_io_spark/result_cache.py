"""Shared cross-frontend result cache — the Redis analog.

The reference's result cache is ONE Redis instance shared by every
sanic worker (reiz/web/api.py:50-63): any frontend's hit serves every
other frontend. The repo's frontends are share-nothing processes (the
shape that made query concurrency scale), so their in-memory LRUs were
private and a hot query re-executed once per frontend. This module
closes that gap with the storage-consistent analog: a request-keyed
cache TABLE next to the index snapshot (tiny JSON blobs, one file per
key) that every frontend process reads and writes.

Consistency contract:
- keys are sha256(request-body JSON + index meta version): a merge that
  flips meta.json to a new version makes every old entry unreachable
  (snapshot semantics, same as the versioned dictionary/blocks dirs);
  unreachable stale-version files simply age out by mtime under the
  size bound — pruning never needs to open them.
- writes are write-tmp + os.replace, so concurrent readers across
  processes see whole entries or nothing; last-writer-wins races are
  benign (both writers hold the same deterministic result).
- the directory is bounded: when a put observes > max_entries files,
  oldest-mtime entries are pruned (the LRU role, amortized).

At production scale the same layout works on any shared filesystem /
object store the index itself lives on; latency-critical deployments
would front it with the in-memory LRU each frontend already has —
which is exactly how web.py composes the two tiers (L1 private LRU,
L2 this shared table).
"""

from __future__ import annotations

import hashlib
import json
import os

CACHE_DIRNAME = "result_cache"
DEFAULT_MAX_ENTRIES = 4096


class SharedResultCache:
    def __init__(
        self,
        index_dir: str,
        version: object,
        max_entries: int = DEFAULT_MAX_ENTRIES,
    ):
        self.dir = os.path.join(index_dir, CACHE_DIRNAME)
        self.version = str(version)
        self.max_entries = max_entries
        # directory-size checks (an O(entries) listing) run every
        # PRUNE_CHECK_EVERY puts, not per put; worst-case overshoot is
        # PRUNE_CHECK_EVERY * n_frontends entries over the bound
        self._puts_since_check = 0
        os.makedirs(self.dir, exist_ok=True)

    PRUNE_CHECK_EVERY = 64

    def _path(self, request_key: str) -> str:
        h = hashlib.sha256(
            (self.version + "\x00" + request_key).encode()
        ).hexdigest()
        return os.path.join(self.dir, h + ".json")

    def get(self, request_key: str):
        """Cached value or None. Entries written for other meta
        versions hash to different filenames, so a stale read is
        structurally impossible — the version check inside the file is
        defense in depth."""
        try:
            with open(self._path(request_key)) as fh:
                entry = json.load(fh)
        except (OSError, json.JSONDecodeError):
            return None
        if entry.get("v") != self.version:
            return None
        return entry.get("value")

    def put(self, request_key: str, value) -> None:
        path = self._path(request_key)
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            with open(tmp, "w") as fh:
                json.dump({"v": self.version, "value": value}, fh)
            os.replace(tmp, path)
        except OSError:
            try:
                os.unlink(tmp)
            except OSError:
                pass
            return
        self._maybe_prune()

    def _maybe_prune(self) -> None:
        """Amortized bound, ZERO content reads (this runs on the
        serving hot path): when the directory exceeds max_entries,
        drop oldest-mtime entries down to a LOW WATERMARK (90%), so
        the listing+prune cost amortizes over the next ~10% of puts
        instead of re-triggering on every put at steady state.
        Stale-version entries need no content check — they are
        unreachable by filename construction (the version is hashed
        into the key) and age out by mtime like everything else."""
        self._puts_since_check += 1
        if self._puts_since_check < self.PRUNE_CHECK_EVERY:
            return
        self._puts_since_check = 0
        try:
            names = [n for n in os.listdir(self.dir) if n.endswith(".json")]
        except OSError:
            return
        if len(names) <= self.max_entries:
            return
        scored = []
        for n in names:
            p = os.path.join(self.dir, n)
            try:
                mtime = os.path.getmtime(p)
            except OSError:
                continue  # concurrently pruned by another frontend
            scored.append((mtime, p))
        if len(scored) <= self.max_entries:
            return  # concurrent pruners already brought us under bound
        scored.sort()
        low_watermark = max(1, int(self.max_entries * 0.9))
        for _, p in scored[: len(scored) - low_watermark]:
            try:
                os.unlink(p)
            except OSError:
                pass

    def stats(self) -> dict:
        try:
            names = [n for n in os.listdir(self.dir) if n.endswith(".json")]
        except OSError:
            names = []
        return {"entries": len(names), "dir": self.dir, "version": self.version}

