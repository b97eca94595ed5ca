"""Minimal HTTP query service over a warm QueryService.

The analog of the reference's production entry point
(reiz/web/api.py:71-119): POST /query runs a ReizQL pattern and returns
ranked results, POST /analyze returns the lowered plan (the reference
returns the compiled EdgeQL; we return the CNF term groups + per-term
index stats + the chosen execution route), GET /stats returns corpus
statistics. Response envelope mirrors the reference
(status/results/exception, api.py:130-142); the result cache is two
tiers playing the Redis role (api.py:50-63): an L1 in-process bounded
LRU plus the L2 CROSS-FRONTEND shared table next to the index snapshot
(result_cache.py) — the reference's Redis is shared by all sanic
workers, and with share-nothing frontends the shared table is what
keeps a hot query from re-executing once per process. A per-client
sliding-window rate limit matches sanic-limiter's two tiers
(api.py:72 "240 per hour;10/minute").

Long-lived-process hygiene: the result cache is a bounded LRU, the
rate-limit ledger evicts idle clients, and QueryService itself is
safe for ThreadingHTTPServer's concurrent handlers (its cache fills
are serialized behind a miss lock; see serve.py).

stdlib http.server only (no web framework in the container); the
serving work happens in QueryService — this file is routing."""

from __future__ import annotations

import json
import threading
import time
from collections import OrderedDict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .plans.lower import lower_query
from .result_cache import SharedResultCache
from .serve import QueryService

# reference parity: reiz/web/api.py:72 "240 per hour;10/minute"
RATE_LIMIT_PER_MINUTE = 10
RATE_LIMIT_PER_HOUR = 240
RESULT_CACHE_MAX = 1024
RATE_CLIENTS_MAX = 10_000


def make_handler(
    service: QueryService,
    per_minute: int = RATE_LIMIT_PER_MINUTE,
    per_hour: int = RATE_LIMIT_PER_HOUR,
    cache_max: int = RESULT_CACHE_MAX,
    shared_cache: bool = True,
):
    cache: OrderedDict[str, list] = OrderedDict()
    cache_lock = threading.Lock()
    hits: OrderedDict[str, list[float]] = OrderedDict()
    hits_lock = threading.Lock()
    # L2: the cross-frontend shared cache table next to the index (the
    # Redis-shared-by-all-workers analog, reiz/web/api.py:50-63) — a hot
    # query executes once per CLUSTER, not once per frontend process.
    # Both tiers key on the version of the generation the service
    # serves, so a commit the service picks up invalidates them.
    l2_bound = None
    l2_enabled = shared_cache

    def shared_for(version: str) -> SharedResultCache | None:
        nonlocal l2_bound, l2_enabled
        if not l2_enabled:
            return None
        cur = l2_bound
        if cur is None or cur.version != version:
            try:
                cur = SharedResultCache(service.reader.index_dir, version)
            except OSError:  # read-only index dir -> L1 only
                l2_enabled = False
                return None
            l2_bound = cur
        return cur

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, fmt, *args):  # quiet test output
            pass

        def _send(self, code: int, payload: dict) -> None:
            body = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _error(self, message: str, code: int = 400) -> None:
            self._send(code, {"status": "error", "results": [],
                              "exception": message})

        def _rate_limited(self) -> bool:
            """Two sliding windows per client, reference parity
            ("240 per hour;10/minute"). The ledger keeps only the last
            hour per client and evicts the least-recently-seen clients
            beyond RATE_CLIENTS_MAX — bounded memory for a long-lived
            server."""
            now = time.monotonic()
            key = self.client_address[0]
            with hits_lock:
                window = [t for t in hits.get(key, []) if now - t < 3600.0]
                window.append(now)
                hits[key] = window
                hits.move_to_end(key)
                while len(hits) > RATE_CLIENTS_MAX:
                    hits.popitem(last=False)
                n_minute = sum(1 for t in window if now - t < 60.0)
                return n_minute > per_minute or len(window) > per_hour

        def _read_json(self) -> dict | None:
            n = int(self.headers.get("Content-Length", 0))
            try:
                return json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                self._error("invalid JSON body")
                return None

        def do_GET(self):
            if self.path != "/stats":
                return self._error("not found", 404)
            shared = shared_for(service.version_key())
            m = service.meta
            with cache_lock:
                l1_entries = len(cache)
            self._send(200, {"status": "success", "results": {
                "n_docs": m.get("n_docs"), "total_dl": m.get("total_dl"),
                "avgdl": m.get("avgdl"), "build_id": m.get("build_id"),
                # the reference's Module/AST/stmt/expr instance counts
                # (reiz/fetch.py:12, web/api.py:117-121)
                **service.statistics(),
                # cache-tier observability (the INFO a Redis deploy has)
                "result_cache": {
                    "l1_entries": l1_entries,
                    "l2": shared.stats() if shared is not None else None,
                },
            }})

        def do_POST(self):
            if self._rate_limited():
                return self._error("rate limit exceeded", 429)
            body = self._read_json()
            if body is None:
                return
            if self.path == "/batch":
                # bulk evaluation: {"queries": {name: pattern}, "limit"}
                qs = body.get("queries")
                if not isinstance(qs, dict):
                    return self._error("Missing 'queries' mapping")
                k = int(body.get("limit", 10))
                results, errors = {}, {}
                for name, src in qs.items():
                    try:
                        results[name] = service.query_topk(
                            lower_query(name, src), k=k
                        )
                    except (SyntaxError, ValueError) as exc:
                        errors[name] = f"syntax error: {exc}"
                return self._send(200, {"status": "success",
                                        "results": results, "errors": errors,
                                        "exception": None})
            if "query" not in body:
                return self._error("Missing 'query' data")
            if not body["query"]:  # empty queries allowed (api.py:80-81)
                return self._send(200, {"status": "success", "results": [],
                                        "exception": None})
            try:
                q = lower_query("http", body["query"])
            except (SyntaxError, ValueError) as exc:
                return self._error(f"syntax error: {exc}")
            if self.path == "/analyze":
                return self._send(200, {"status": "success",
                                        **service.analyze(q)})
            if self.path == "/explain":
                # per-term BM25 contribution rows for the top-k docs
                # (zero Spark jobs on the warm path)
                try:
                    rows = service.explain_topk(
                        q, k=int(body.get("limit", 1))
                    )
                except Exception as exc:  # noqa: BLE001
                    return self._error(repr(exc), 500)
                return self._send(200, {"status": "success",
                                        "results": rows,
                                        "exception": None})
            if self.path != "/query":
                return self._error("not found", 404)
            k = int(body.get("limit", 10))
            offset = int(body.get("offset", 0))
            positions = bool(body.get("positions", False))
            after = body.get("after")  # [score, doc_id] keyset cursor
            if after is not None:
                try:
                    cursor = (float(after[0]), int(after[1]))
                except (TypeError, ValueError, IndexError):
                    return self._error(
                        "'after' must be [score, doc_id] of the last row"
                    )
                try:
                    results = service.query_after(q, cursor, k=k)
                except Exception as exc:  # noqa: BLE001
                    return self._error(repr(exc), 500)
                return self._send(200, {"status": "success",
                                        "results": results,
                                        "exception": None})
            version = service.version_key()
            body_key = json.dumps(body, sort_keys=True)
            key = f"{version}\x00{body_key}"
            with cache_lock:
                if key in cache:
                    cache.move_to_end(key)
                    return self._send(200, {"status": "success",
                                            "results": cache[key],
                                            "exception": None, "cached": True})
            l2 = shared_for(version)
            if l2 is not None:  # another frontend may have computed it
                shared = l2.get(body_key)
                if shared is not None:
                    with cache_lock:
                        cache[key] = shared
                        cache.move_to_end(key)
                        while len(cache) > cache_max:
                            cache.popitem(last=False)
                    return self._send(200, {"status": "success",
                                            "results": shared,
                                            "exception": None,
                                            "cached": "shared"})
            try:
                if positions:
                    results = service.query_positions(q, k=k, offset=offset)
                else:
                    results = service.query_topk(q, k=k, offset=offset)
            except Exception as exc:  # noqa: BLE001 — reference returns tracebacks
                return self._error(repr(exc), 500)
            # a commit picked up while the query ran: the results may be
            # of the newer generation — cache nothing under the old key
            if service.version_key() == version:
                with cache_lock:
                    cache[key] = results
                    cache.move_to_end(key)
                    while len(cache) > cache_max:  # bounded LRU (the Redis role)
                        cache.popitem(last=False)
                if l2 is not None:
                    l2.put(body_key, results)
            self._send(200, {"status": "success", "results": results,
                             "exception": None, "cached": False})

    return Handler


def serve(service: QueryService, host: str = "127.0.0.1", port: int = 8099,
          **limits):
    """Blocking server (CLI use). Returns the server for .shutdown()."""
    httpd = ThreadingHTTPServer((host, port), make_handler(service, **limits))
    httpd.serve_forever()
    return httpd


def start_background(service: QueryService, host: str = "127.0.0.1", port: int = 0,
                     **limits):
    """Start on a daemon thread; returns (server, actual_port)."""
    httpd = ThreadingHTTPServer((host, port), make_handler(service, **limits))
    t = threading.Thread(target=httpd.serve_forever, daemon=True)
    t.start()
    return httpd, httpd.server_address[1]
