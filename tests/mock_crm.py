"""Local mock CRM sink for tests — same contract as the reference's
crm_server (POST /customers → 201; injectable 503 failures,
reference crm_server/server.go:19-36). Failure injection is deterministic
(by request index) instead of random, per FIXTURES.md §5."""

from __future__ import annotations

import json
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


class MockCRM:
    def __init__(self, fail_every: int = 0, delay_s: float = 0.0, answer: dict[str, int] | None = None):
        """fail_every=N → every Nth request (1-based) gets a 503; 0 = none.
        delay_s holds every request that long before it is answered, so
        concurrent POSTs overlap. answer maps an email to the status every
        POST of it gets (e.g. a 400 for a row the sink refuses)."""
        self.received: list[dict] = []
        self.total = 0
        self.failed = 0
        self.in_flight = 0
        self.max_in_flight = 0
        self._lock = threading.Lock()
        answer = answer or {}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):
                body = json.loads(self.rfile.read(int(self.headers.get("Content-Length", 0))))
                with outer._lock:
                    outer.total += 1
                    n = outer.total
                    outer.in_flight += 1
                    outer.max_in_flight = max(outer.max_in_flight, outer.in_flight)
                time.sleep(delay_s)
                status = answer.get(body["email"], 201)
                with outer._lock:
                    # leave before replying: the client may send its next
                    # POST as soon as it reads the reply
                    outer.in_flight -= 1
                    if status == 201 and fail_every and n % fail_every == 0:
                        status = 503
                        outer.failed += 1
                    if status == 201:
                        outer.received.append(body)
                self.send_response(status)
                self.end_headers()

            def log_message(self, *a):
                pass

        class Server(ThreadingHTTPServer):
            # the default listen backlog of 5 drops connections once more
            # than 5 clients connect at once, and each drop stalls that
            # client about a second; the upload tests run 8 and more
            request_queue_size = 128

        self._server = Server(("127.0.0.1", 0), Handler)
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)

    @property
    def url(self) -> str:
        return f"http://127.0.0.1:{self._server.server_port}"

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *a):
        self._server.shutdown()
        self._server.server_close()
