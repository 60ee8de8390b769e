"""Loopback OpenAI-compatible chat server with a seeded latency and
fault plan, served from a thread of the benchmark process.

Each request is answered after the latency its prompt was assigned.
The reply is ``<think>stub</think>`` plus ``STUB <md5(prompt)[:8]>``,
so a checker can recompute every ok response from the prompt alone.
Faults are per prompt: ``500_once`` and ``429_once`` fail the prompt's
first request only (``Retry-After: 0.1`` on the 429), ``500_always``
fails every request. The server counts what it received, so the number
of backend calls is observed outside the program under test.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def stub_reply(prompt: str) -> str:
    return "STUB " + hashlib.md5(prompt.encode("utf-8")).hexdigest()[:8]


class StubServer:
    def __init__(self, schedule: dict[str, tuple[float, str]]):
        self.schedule = schedule
        self.lock = threading.Lock()
        self.seen: dict[str, int] = {}
        self.requests = 0
        stub = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            wbufsize = -1  # one send per response: no Nagle/delayed-ACK stall

            def log_message(self, *args):  # keep stderr quiet
                pass

            def do_POST(self):
                body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
                prompt = body["messages"][-1]["content"]
                status, headers, payload = stub.answer(prompt)
                data = json.dumps(payload).encode()
                self.send_response(status)
                for k, v in headers.items():
                    self.send_header(k, v)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.httpd.daemon_threads = True
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)

    @property
    def endpoint(self) -> str:
        return f"http://127.0.0.1:{self.httpd.server_address[1]}/v1"

    def answer(self, prompt: str) -> tuple[int, dict, dict]:
        latency, fault = self.schedule.get(prompt, (0.0, "unknown"))
        with self.lock:
            nth = self.seen.get(prompt, 0)
            self.seen[prompt] = nth + 1
            self.requests += 1
        time.sleep(latency)
        if fault == "unknown":
            return 400, {}, {"error": "prompt not in schedule"}
        if fault == "500_always" or (fault == "500_once" and nth == 0):
            return 500, {}, {"error": "injected"}
        if fault == "429_once" and nth == 0:
            return 429, {"Retry-After": "0.1"}, {"error": "rate limited"}
        content = "<think>stub</think>\n" + stub_reply(prompt)
        return 200, {}, {"choices": [{"message": {"role": "assistant", "content": content}}]}

    def reset(self) -> None:
        with self.lock:
            self.seen.clear()
            self.requests = 0

    def __enter__(self) -> "StubServer":
        self.thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        self.thread.join(timeout=10)


def expected_calls(prompts: list[str], schedule: dict[str, tuple[float, str]], max_retries: int) -> int:
    """Requests an at-most-once client without a cache makes for these
    records: one per record, one more for the first record of each
    ``*_once`` prompt, and ``max_retries`` more for every record of a
    ``500_always`` prompt."""
    calls = len(prompts)
    for p, n in Counter(prompts).items():
        fault = schedule[p][1]
        if fault in ("500_once", "429_once"):
            calls += 1
        elif fault == "500_always":
            calls += max_retries * n
    return calls
