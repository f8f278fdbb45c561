"""Loopback Elasticsearch endpoint for the ``cdc_apply`` workload.

A stdlib ``http.server`` that speaks the part of the ES document API
the engine's sink uses (``graal_cdc_spark.sinks.elasticsearch``):

- ``POST {index}/_bulk`` with NDJSON ``index`` / ``delete`` actions,
  answered with per-item results (``errors`` set when any item fails;
  deleting an absent id is a 404 ``not_found`` item, as in ES);
- ``PUT {index}/_doc/{id}`` and ``DELETE {index}/_doc/{id}`` for the
  single-record path (DELETE of an absent id answers 404).

It counts requests, body bytes and items, keeps the document set in
memory, and serves at most ``max_connections`` requests at once: a
request beyond that is refused with 429 and counted as a rejection,
which the sink's retry policy re-drives (so rejections equal retries).
"""

from __future__ import annotations

import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"
    server: "_Server"

    def log_message(self, format, *args):  # noqa: A002 — stdlib signature
        pass

    def _reply(self, status: int, body: dict | None = None) -> None:
        data = json.dumps(body or {}).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(data)))
        if status == 429:
            self.send_header("Retry-After", "0")
        self.end_headers()
        self.wfile.write(data)

    def _body(self) -> bytes:
        n = int(self.headers.get("Content-Length") or 0)
        return self.rfile.read(n) if n else b""

    def _dispatch(self, method: str) -> None:
        body = self._body()
        ep = self.server.endpoint
        if not ep._slots.acquire(blocking=False):
            ep._count(rejected=1)
            self._reply(429, {"error": "too many concurrent requests"})
            return
        try:
            status, reply = ep._handle(method, self.path, body)
        except (ValueError, KeyError, IndexError) as exc:  # malformed request
            status, reply = 400, {"error": repr(exc)}
        finally:
            ep._slots.release()
        self._reply(status, reply)

    def do_POST(self):  # noqa: N802 — stdlib naming
        self._dispatch("POST")

    def do_PUT(self):  # noqa: N802
        self._dispatch("PUT")

    def do_DELETE(self):  # noqa: N802
        self._dispatch("DELETE")


class _Server(ThreadingHTTPServer):
    daemon_threads = True
    endpoint: "EsEndpoint"


class EsEndpoint:
    """In-process ES stand-in on ``127.0.0.1``; use as a context
    manager or call :meth:`start` / :meth:`close`."""

    def __init__(self, index: str = "bench", max_connections: int = 4):
        if max_connections < 1:
            raise ValueError("max_connections must be >= 1")
        self.index = index
        self._slots = threading.BoundedSemaphore(max_connections)
        self._lock = threading.Lock()
        self._docs: dict[str, dict] = {}
        self._stats = {"requests": 0, "bytes": 0, "items": 0, "rejected": 0}
        self._httpd: _Server | None = None
        self._thread: threading.Thread | None = None

    # -- lifecycle ---------------------------------------------------------
    def start(self) -> "EsEndpoint":
        self._httpd = _Server(("127.0.0.1", 0), _Handler)
        self._httpd.endpoint = self
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="es-endpoint", daemon=True
        )
        self._thread.start()
        return self

    def close(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._thread.join(timeout=10)
            self._httpd = None

    def __enter__(self) -> "EsEndpoint":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.close()

    @property
    def url(self) -> str:
        host, port = self._httpd.server_address[:2]
        return f"http://{host}:{port}/{self.index}"

    # -- observations ------------------------------------------------------
    def stats(self) -> dict[str, int]:
        """Counters since start."""
        with self._lock:
            return dict(self._stats)

    def documents(self) -> dict[str, dict]:
        """The current document set, ``{_id: source}``."""
        with self._lock:
            return {k: dict(v) for k, v in self._docs.items()}

    # -- request handling --------------------------------------------------
    def _count(self, requests: int = 0, nbytes: int = 0, items: int = 0,
               rejected: int = 0) -> None:
        with self._lock:
            self._stats["requests"] += requests
            self._stats["bytes"] += nbytes
            self._stats["items"] += items
            self._stats["rejected"] += rejected

    def _handle(self, method: str, path: str, body: bytes) -> tuple[int, dict]:
        parts = [urllib.parse.unquote(p) for p in path.split("?")[0].split("/") if p]
        if not parts or parts[0] != self.index:
            return 404, {"error": f"no such index {parts[:1]}"}
        if method == "POST" and parts[1:] == ["_bulk"]:
            return self._bulk(body)
        if len(parts) == 3 and parts[1] == "_doc" and method in ("PUT", "DELETE"):
            self._count(requests=1, nbytes=len(body), items=1)
            doc_id = parts[2]
            with self._lock:
                if method == "PUT":
                    created = doc_id not in self._docs
                    self._docs[doc_id] = json.loads(body)
                    return (201 if created else 200), {
                        "_id": doc_id, "result": "created" if created else "updated"}
                if self._docs.pop(doc_id, None) is None:
                    return 404, {"_id": doc_id, "result": "not_found"}
                return 200, {"_id": doc_id, "result": "deleted"}
        return 400, {"error": f"unsupported {method} {path}"}

    def _bulk(self, body: bytes) -> tuple[int, dict]:
        lines = [ln for ln in body.decode("utf-8").split("\n") if ln.strip()]
        items: list[dict] = []
        errors = False
        i = 0
        with self._lock:
            while i < len(lines):
                meta = json.loads(lines[i])
                (action, info), = meta.items()
                doc_id = str(info["_id"])
                if action == "index":
                    created = doc_id not in self._docs
                    self._docs[doc_id] = json.loads(lines[i + 1])
                    items.append({"index": {
                        "_id": doc_id, "status": 201 if created else 200,
                        "result": "created" if created else "updated"}})
                    i += 2
                elif action == "delete":
                    if self._docs.pop(doc_id, None) is None:
                        errors = True
                        items.append({"delete": {
                            "_id": doc_id, "status": 404, "result": "not_found"}})
                    else:
                        items.append({"delete": {
                            "_id": doc_id, "status": 200, "result": "deleted"}})
                    i += 1
                else:
                    return 400, {"error": f"unsupported bulk action {action!r}"}
            self._stats["requests"] += 1
            self._stats["bytes"] += len(body)
            self._stats["items"] += len(items)
        return 200, {"took": 0, "errors": errors, "items": items}
