"""A local OpenSearch ``_bulk`` stand-in that records what it receives.

It acks every request with 200 ``{"errors": false}`` and keeps each raw
body with its receive time; :func:`parse` and :func:`check` run afterwards,
outside any timed region, so the stub adds little to what it measures.
"""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from envelopes import Truth

ACK = json.dumps({"took": 0, "errors": False}).encode()


class BulkStub:
    def __init__(self):
        self._lock = threading.Lock()
        self._bodies: list[tuple[float, bytes]] = []
        stub = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                received = time.time()
                with stub._lock:
                    stub._bodies.append((received, body))
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(ACK)))
                self.end_headers()
                self.wfile.write(ACK)

        self._server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self._server.daemon_threads = True
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        self.url = f"http://127.0.0.1:{self._server.server_port}"

    def take(self) -> list[tuple[float, bytes]]:
        """Bodies received since the last call, with their receive times."""
        with self._lock:
            out, self._bodies = self._bodies, []
        return out

    def close(self) -> None:
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=10)


def parse(bodies: list[tuple[float, bytes]]) -> dict:
    """Split NDJSON bulk bodies into documents: ``ids`` in arrival order,
    ``docs`` by id (the last copy), receive time by id, posts and bytes."""
    ids: list[str] = []
    docs: dict[str, dict] = {}
    received: dict[str, float] = {}
    n_bytes = 0
    for t, body in bodies:
        n_bytes += len(body)
        lines = body.split(b"\n")
        for action, doc in zip(lines[0::2], lines[1::2]):
            doc_id = json.loads(action)["index"]["_id"]
            ids.append(doc_id)
            docs[doc_id] = json.loads(doc)
            received.setdefault(doc_id, t)
    return {"ids": ids, "docs": docs, "received": received, "posts": len(bodies), "bytes": n_bytes}


CHECKED_FIELDS = (
    "http.response.status_code",
    "event.outcome",
    "source.geo.country_iso_code",
    "error.message",
)


def check(delivered: dict, truth: Truth) -> dict:
    """Compare delivered documents with the generator's ground truth.

    A document is wrong if it is missing, duplicated by ``_id``, carries a
    checked field that differs from the truth, or is a dead letter whose
    (requestId, reason) the generator did not plant.  Returns the wrong
    count and the delivered dead-letter counts by reason."""
    ids, docs = delivered["ids"], delivered["docs"]
    wrong = len(ids) - len(docs)  # duplicates
    dead_seen: dict[tuple[str, str], int] = {}
    dead_letters: dict[str, int] = {}
    for doc_id, doc in docs.items():
        reason = doc.get("decode.error")
        if reason is not None:
            key = (doc.get("requestId"), reason)
            dead_seen[key] = dead_seen.get(key, 0) + 1
            dead_letters[reason] = dead_letters.get(reason, 0) + 1
            continue
        expected = truth.events.get(doc_id)
        if expected is None or doc.get("records.data.logEvents.id") != doc_id:
            wrong += 1
            continue
        if any(doc.get(f) != expected.get(f) for f in CHECKED_FIELDS):
            wrong += 1
        elif "error.message" in doc:
            dead_letters[doc["error.message"]] = dead_letters.get(doc["error.message"], 0) + 1
    wrong += sum(1 for doc_id in truth.events if doc_id not in docs)
    for key in dead_seen.keys() | truth.dead_records.keys():
        wrong += abs(dead_seen.get(key, 0) - truth.dead_records.get(key, 0))
    return {"wrong": wrong, "dead_letters": dead_letters}
