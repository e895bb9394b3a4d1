"""Single-process local Groove/HelpScout API stand-in for ``migrate_http``.

Serves a corpus written by ``perfbench.corpus`` over real TCP:

  GET  /v1/<resource>?page=P&per_page=N   pre-rendered page bodies
  POST /v1/<resource>                      one record; receipt counted
  GET  /_admin/stats                       receipts, request and rate counts

Every page body is rendered once at start-up, so a GET costs a dict
lookup and a socket write. A seeded fault schedule answers some GET
paths with 429 (optionally carrying Retry-After) or 5xx before the 200.
At most ``--max-conns`` connections are served at once; the rest wait
in the listen backlog, as behind a small API front end.

Usage: python3 perfbench/server.py --corpus CORPUS.json --per-page 50
       --window 0.001 --max-conns 4
Prints the bound port on the first line of stdout, then serves until
stdin closes.
"""

from __future__ import annotations

import argparse
import bisect
import json
import sys
import threading
import time
from collections import Counter, defaultdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

# the receipt key of each published resource
RECORD_KEY = {"customers": "source_email", "conversations": "groove_ticket_number"}


def render_pages(tables: dict, per_page: int) -> dict[str, bytes]:
    """-> {path: body} for every page of every table plus its probe path."""
    pages: dict[str, bytes] = {}
    for name, recs in tables.items():
        total = len(recs)
        meta = {"pagination": {"total_count": total, "per_page": per_page}}
        pages[f"/v1/{name}?page=1&per_page=1"] = json.dumps(
            {name: recs[:1], "meta": meta}).encode()
        for p in range(1, max(1, -(-total // per_page)) + 1):
            body = {name: recs[(p - 1) * per_page: p * per_page], "meta": meta}
            pages[f"/v1/{name}?page={p}&per_page={per_page}"] = json.dumps(body).encode()
    return pages


def peak_in_window(stamps: list[float], window: float) -> int:
    """Largest number of stamps inside any half-open window of ``window`` s."""
    stamps = sorted(stamps)
    best = 0
    for i, t in enumerate(stamps):
        best = max(best, bisect.bisect_left(stamps, t + window, lo=i) - i)
    return best


class ApiState:
    def __init__(self, pages: dict[str, bytes], faults: dict[str, list]):
        self.pages = pages
        self.faults = faults
        self.lock = threading.Lock()
        self.served: Counter = Counter()  # GET path -> times answered
        self.answered: Counter = Counter()  # GET path -> times answered 200
        self.receipts: dict[str, Counter] = defaultdict(Counter)
        self.get_stamps: list[float] = []
        self.post_stamps: list[float] = []
        self.faults_served = 0

    def get(self, path: str) -> tuple[int, bytes, dict]:
        with self.lock:
            self.get_stamps.append(time.monotonic())
            body = self.pages.get(path)
            if body is None:
                return 404, b'{"error": "not found"}', {}
            n = self.served[path]
            self.served[path] = n + 1
            faults = self.faults.get(path, [])
            if n < len(faults):
                self.faults_served += 1
                status, retry_after = faults[n]
                headers = {"Retry-After": retry_after} if retry_after else {}
                return status, json.dumps({"error": status}).encode(), headers
            self.answered[path] += 1
        return 200, body, {}

    def post(self, resource: str, raw: bytes) -> int:
        stamp = time.monotonic()
        try:
            key = json.loads(raw)[RECORD_KEY[resource]]
        except (ValueError, KeyError, TypeError):
            key = None
        with self.lock:
            self.post_stamps.append(stamp)
            if key is None:
                return 400
            self.receipts[resource][str(key)] += 1
        return 201

    def stats(self, window: float) -> dict:
        with self.lock:
            return {
                "gets": len(self.get_stamps),
                "posts": len(self.post_stamps),
                "faults_served": self.faults_served,
                "answered": dict(self.answered),
                "peak_reads_per_window": peak_in_window(self.get_stamps, window),
                "peak_writes_per_window": peak_in_window(self.post_stamps, window),
                "receipts": {r: dict(c) for r, c in self.receipts.items()},
            }


class BoundedServer(ThreadingHTTPServer):
    """Serves at most ``max_conns`` connections at a time."""

    daemon_threads = True
    request_queue_size = 128

    def __init__(self, addr, handler, max_conns: int):
        self.slots = threading.BoundedSemaphore(max_conns)
        super().__init__(addr, handler)

    def process_request(self, request, client_address):
        self.slots.acquire()
        try:
            super().process_request(request, client_address)
        except BaseException:
            self.slots.release()
            raise

    def process_request_thread(self, request, client_address):
        try:
            super().process_request_thread(request, client_address)
        finally:
            self.slots.release()


def make_handler(state: ApiState, window: float):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _reply(self, status: int, body: bytes, headers: dict | None = None):
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            for k, v in (headers or {}).items():
                self.send_header(k, v)
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            if self.path == "/_admin/stats":
                body = json.dumps(state.stats(window)).encode()
                return self._reply(200, body)
            status, body, headers = state.get(self.path)
            self._reply(status, body, headers)

        def do_POST(self):
            raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            resource = self.path.rsplit("/", 1)[-1]
            if not self.path.startswith("/v1/") or resource not in RECORD_KEY:
                return self._reply(404, b'{"error": "not found"}')
            self._reply(state.post(resource, raw), b'{"ok": true}')

    return Handler


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--per-page", type=int, default=50)
    ap.add_argument("--window", type=float, required=True,
                    help="seconds over which peak request rates are counted")
    ap.add_argument("--max-conns", type=int, required=True)
    args = ap.parse_args()
    with open(args.corpus) as f:
        spec = json.load(f)
    faults = {p: [tuple(x) for x in fs] for p, fs in spec["faults"].items()}
    state = ApiState(render_pages(spec["tables"], args.per_page), faults)
    httpd = BoundedServer(
        ("127.0.0.1", 0),
        make_handler(state, args.window),
        args.max_conns,
    )
    thread = threading.Thread(target=httpd.serve_forever, daemon=True)
    thread.start()
    print(httpd.server_address[1], flush=True)
    sys.stdin.read()  # the parent closes stdin to stop the server
    httpd.shutdown()
    httpd.server_close()


if __name__ == "__main__":
    main()
