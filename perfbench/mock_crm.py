"""Mock CRM for the upload workload, run as its own process.

``POST /customers`` takes one JSON customer, holds the request for a
fixed service time and answers 201 -- except on the first attempt for
an email whose hash falls in the failing share, which gets 503. The
failing set depends only on the emails, never on arrival order, so
every run of a seed sees the same retries.

``GET /stats`` returns the counters and, per email, [posts, 201s,
epoch time of the first 201].

Run: ``python3 perfbench/mock_crm.py --service-ms 3 --fail-pct 10``;
the first stdout line is the port it listens on (127.0.0.1).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def fails_first_attempt(email: str, fail_pct: int) -> bool:
    digest = hashlib.sha256(email.encode("utf-8")).digest()
    return int.from_bytes(digest[:4], "big") % 100 < fail_pct


class Ledger:
    """Counters shared by the handler threads; every access holds the lock."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.posts = self.posts_201 = self.posts_503 = self.duplicate_201 = 0
        self.per_email: dict[str, list] = {}
        self.in_flight = self.max_in_flight = 0
        self.busy_s = self.in_flight_s = 0.0
        self.last_change = time.perf_counter()

    def _advance(self) -> None:
        # time-weighted in-flight integral, accumulated at every change
        now = time.perf_counter()
        if self.in_flight:
            dt = now - self.last_change
            self.busy_s += dt
            self.in_flight_s += dt * self.in_flight
        self.last_change = now

    def enter(self, email: str, fail_pct: int) -> bool:
        """Admit one request; True when it must be refused with 503."""
        with self.lock:
            self._advance()
            self.in_flight += 1
            self.max_in_flight = max(self.max_in_flight, self.in_flight)
            self.posts += 1
            entry = self.per_email.setdefault(email, [0, 0, None])
            entry[0] += 1
            return entry[0] == 1 and fails_first_attempt(email, fail_pct)

    def leave(self, email: str, status: int) -> None:
        with self.lock:
            self._advance()
            self.in_flight -= 1
            entry = self.per_email[email]
            if status == 201:
                self.posts_201 += 1
                entry[1] += 1
                if entry[1] == 1:
                    entry[2] = time.time()
                else:
                    self.duplicate_201 += 1
            else:
                self.posts_503 += 1

    def snapshot(self) -> dict:
        with self.lock:
            self._advance()
            return {
                "posts": self.posts,
                "posts_201": self.posts_201,
                "posts_503": self.posts_503,
                "duplicate_201": self.duplicate_201,
                "max_in_flight": self.max_in_flight,
                "busy_s": self.busy_s,
                "in_flight_s": self.in_flight_s,
                "per_email": self.per_email,
            }


def make_handler(ledger: Ledger, service_s: float, fail_pct: int):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *args) -> None:  # keep stderr quiet
            pass

        def _reply(self, status: int, body: bytes = b"") -> None:
            self.send_response(status)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self) -> None:
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path != "/customers":
                self._reply(404)
                return
            email = json.loads(body)["email"]
            refuse = ledger.enter(email, fail_pct)
            time.sleep(service_s)
            status = 503 if refuse else 201
            ledger.leave(email, status)
            self._reply(status)

        def do_GET(self) -> None:
            if self.path != "/stats":
                self._reply(404)
                return
            self._reply(200, json.dumps(ledger.snapshot()).encode("utf-8"))

    return Handler


class _Server(ThreadingHTTPServer):
    daemon_threads = True
    request_queue_size = 128


class MockCrm:
    """Start the mock CRM as a child process; ``close`` stops and reaps it."""

    def __init__(self, service_ms: float, fail_pct: int) -> None:
        import subprocess

        self.proc = subprocess.Popen(
            [sys.executable, __file__, "--service-ms", str(service_ms), "--fail-pct", str(fail_pct)],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        self.url = f"http://127.0.0.1:{int(self.proc.stdout.readline())}"

    def stats(self) -> dict:
        import urllib.request

        with urllib.request.urlopen(self.url + "/stats", timeout=30) as resp:
            return json.loads(resp.read())

    def close(self) -> None:
        import subprocess

        self.proc.stdin.close()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.proc.stdout.close()

    def __enter__(self) -> "MockCrm":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--service-ms", type=float, default=3.0)
    ap.add_argument("--fail-pct", type=int, default=10)
    args = ap.parse_args(argv)
    ledger = Ledger()
    server = _Server(("127.0.0.1", 0), make_handler(ledger, args.service_ms / 1000.0, args.fail_pct))
    print(server.server_address[1], flush=True)
    # the parent closes our stdin to stop us
    threading.Thread(target=lambda: (sys.stdin.read(), server.shutdown()), daemon=True).start()
    try:
        server.serve_forever(poll_interval=0.05)
    finally:
        server.server_close()


if __name__ == "__main__":
    main()
