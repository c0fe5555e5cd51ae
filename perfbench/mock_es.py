"""A small Elasticsearch ``_bulk`` endpoint that the benchmark runs as its
own process.

It speaks the part of the REST protocol the engine's ``es_http`` sink uses:
``DELETE``/``PUT /<index>``, ``POST /_bulk`` with NDJSON action/doc pairs,
and ``POST /<index>/_refresh``. Documents are never JSON-parsed: ids are
cut from the action lines with one regular expression, and metadata
fields inside a source document are found by counting, so the mock stays
cheap next to the sink it measures.

Back-pressure: bulk request number ``phase`` to an index, counted from
the index's creation with ``phase`` in 0..3 chosen by ``--seed``, answers
HTTP 200 with ``errors: true`` and a per-item 429 for the second half of
its actions. Every index that gets four requests thus sees one rejection
per generation, so the client's partial retry runs in every measured full
sync, and the number of rejections per sync does not depend on how
concurrent senders interleave. Accepted requests answer ``{"errors":
false, "items": []}``.

``GET /_bench/stats`` returns per-index accepted docs, distinct ids and an
order-independent id fingerprint, plus request, byte, rejection and busy
time totals. At most ``os.cpu_count()`` connections are served at once.

Run: ``python3 perfbench/mock_es.py --seed 1``; it prints
its port on the first stdout line and serves until terminated.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys
import threading
import time
import zlib
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

_ID_RE = re.compile(rb'"_id":"([^"]*)"')
_META_KEYS = (b'"_type":', b'"_routing":', b'"_version":', b'"_version_type":', b'"_source":')


def fingerprint(ids) -> int:
    """Order-independent 64-bit digest of a set of id byte strings."""
    total = 0
    for i in ids:
        total += zlib.crc32(i) | (zlib.adler32(i) << 32)
    return total & 0xFFFFFFFFFFFFFFFF


class State:
    def __init__(self, seed: int):
        self.lock = threading.Lock()
        self.indices: dict[str, set[bytes]] = {}
        self.index_requests: dict[str, int] = {}
        self.accepted: dict[str, int] = {}
        self.phase = random.Random(seed).randrange(4)
        self.requests = 0
        self.bytes = 0
        self.docs_sent = 0
        self.rejected_requests = 0
        self.rejected_items = 0
        self.bad_requests = 0
        self.busy_s = 0.0

    def stats(self) -> dict:
        with self.lock:
            return {
                "indices": {
                    name: {"accepted": self.accepted.get(name, 0), "distinct": len(ids),
                           "fingerprint": fingerprint(ids)}
                    for name, ids in self.indices.items()
                },
                "requests": self.requests, "bytes": self.bytes, "docs_sent": self.docs_sent,
                "rejected_requests": self.rejected_requests,
                "rejected_items": self.rejected_items, "bad_requests": self.bad_requests,
                "busy_s": self.busy_s,
            }


def make_handler(state: State):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.0"

        def log_message(self, *a):
            pass

        def _reply(self, code: int, body: bytes) -> None:
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _body(self) -> bytes:
            return self.rfile.read(int(self.headers.get("Content-Length") or 0))

        def do_DELETE(self):
            name = self.path.strip("/")
            with state.lock:
                found = state.indices.pop(name, None) is not None
                state.index_requests.pop(name, None)
            self._reply(200 if found else 404, b'{"acknowledged":true}')

        def do_PUT(self):
            self._body()
            with state.lock:
                state.indices.setdefault(self.path.strip("/"), set())
            self._reply(200, b'{"acknowledged":true}')

        def do_GET(self):
            if self.path == "/_bench/stats":
                self._reply(200, json.dumps(state.stats()).encode())
            else:
                self._reply(404, b"{}")

        def do_POST(self):
            t0 = time.perf_counter()
            body = self._body()
            if self.path.endswith("/_refresh"):
                self._reply(200, b"{}")
            elif self.path == "/_bulk":
                self._bulk(body)
            else:
                self._reply(404, b"{}")
            with state.lock:
                state.busy_s += time.perf_counter() - t0

        def _bulk(self, body: bytes) -> None:
            lines = body.rstrip(b"\n").split(b"\n")
            n = len(lines) // 2
            actions = lines[0::2]
            index = re.search(rb'"_index":"([^"]*)"', actions[0]).group(1).decode() if n else ""
            # Each action line carries exactly one "_index" and at most one
            # "_id"; any more, or any other metadata key, sits in a document.
            bad = (
                len(lines) % 2
                or body.count(b'"_index":') != n
                or body.count(b'"_id":') > n
                or any(k in body for k in _META_KEYS)
            )
            with state.lock:
                state.requests += 1
                state.bytes += len(body)
                state.docs_sent += n
                nth = state.index_requests.get(index, 0)
                state.index_requests[index] = nth + 1
                reject = nth == state.phase
            if bad:
                with state.lock:
                    state.bad_requests += 1
                item = {"index": {"status": 400, "error": {"type": "mapper_parsing_exception"}}}
                self._reply(200, json.dumps({"errors": True, "items": [item] * n}).encode())
                return
            keep = n - n // 2 if reject and n > 1 else n
            ids = _ID_RE.findall(b"\n".join(actions[:keep]))
            with state.lock:
                state.indices.setdefault(index, set()).update(ids)
                state.accepted[index] = state.accepted.get(index, 0) + keep
                if keep < n:
                    state.rejected_requests += 1
                    state.rejected_items += n - keep
            if keep == n:
                self._reply(200, b'{"errors":false,"items":[]}')
                return
            ok = {"index": {"status": 201}}
            rej = {"index": {"status": 429, "error": {"type": "es_rejected_execution_exception"}}}
            items = [ok] * keep + [rej] * (n - keep)
            self._reply(200, json.dumps({"errors": True, "items": items}).encode())

    return Handler


class BoundedServer(ThreadingHTTPServer):
    """Serves at most ``os.cpu_count()`` connections at once; the rest
    wait in the listen backlog."""

    daemon_threads = True
    request_queue_size = 128

    def __init__(self, addr, handler):
        super().__init__(addr, handler)
        self._slots = threading.BoundedSemaphore(os.cpu_count() or 1)

    def process_request(self, request, client_address):
        self._slots.acquire()
        super().process_request(request, client_address)

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self._slots.release()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=0)
    args = ap.parse_args()
    server = BoundedServer(("127.0.0.1", 0), make_handler(State(args.seed)))
    print(server.server_address[1], flush=True)
    try:
        server.serve_forever()
    except KeyboardInterrupt:
        pass
    finally:
        server.server_close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
