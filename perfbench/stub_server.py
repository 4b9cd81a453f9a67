"""In-process stub of an OpenAI-compatible chat-completions backend.

Built on stdlib ``http.server``. Each request holds one of at most
``threads`` handler threads for a fixed service time, then answers with
a completion derived only from the prompt (:func:`respond`), so a
pure-Python replay reproduces every output. The server counts requests,
distinct prompts, accepted connections and failures, and records for each
request when it was accepted, when a handler took it and when it was
answered.
"""

from __future__ import annotations

import hashlib
import json
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer


def respond(prompt: str) -> str:
    """Deterministic completion: a leading digit 0-9 (the score a
    PromptedFilter extracts) and a hex token (the generated text)."""
    h = hashlib.sha256(prompt.encode("utf-8")).hexdigest()
    return f"{int(h[:8], 16) % 10} {h[8:24]}"


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"

    def log_message(self, *args) -> None:  # keep the benchmark's stdout clean
        pass

    def do_POST(self) -> None:  # noqa: N802 (http.server API)
        stub: StubServer = self.server.stub  # type: ignore[attr-defined]
        try:
            body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
            messages = json.loads(body)["messages"]
            prompt = "".join(m["content"] for m in messages)
            time.sleep(stub.service_s)
            out = json.dumps({"choices": [{"index": 0, "message": {
                "role": "assistant", "content": respond(prompt)}}]}).encode()
        except (ValueError, KeyError, TypeError):
            stub.count_failure()
            self.send_error(400)
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)
        stub.count_request(prompt)


class _PoolServer(HTTPServer):
    """Hands each accepted connection to a bounded thread pool."""

    request_queue_size = 256   # clients open many connections at once

    def __init__(self, addr, stub: "StubServer", threads: int):
        super().__init__(addr, _Handler)
        self.stub = stub
        self.pool = ThreadPoolExecutor(max_workers=threads,
                                       thread_name_prefix="stub")

    def process_request(self, request, client_address) -> None:
        accepted = time.time()
        self.stub.count_connection()
        self.pool.submit(self._serve, request, client_address, accepted)

    def _serve(self, request, client_address, accepted: float) -> None:
        busy0 = time.time()
        try:
            self.finish_request(request, client_address)
        except OSError:
            self.stub.count_failure()
        finally:
            self.shutdown_request(request)
            self.stub.record_request(accepted, busy0, time.time())

    def server_close(self) -> None:
        super().server_close()
        self.pool.shutdown(wait=True)


class StubServer:
    """Start with ``with StubServer(threads, service_ms) as stub:``;
    ``stub.url`` is the chat-completions endpoint."""

    def __init__(self, threads: int, service_ms: float):
        self.threads = threads
        self.service_s = service_ms / 1000.0
        self._lock = threading.Lock()
        self._server = _PoolServer(("127.0.0.1", 0), self, threads)
        self._thread = threading.Thread(target=self._server.serve_forever,
                                        kwargs={"poll_interval": 0.05},
                                        name="stub-accept", daemon=True)
        self.reset()

    @property
    def url(self) -> str:
        host, port = self._server.server_address[:2]
        return f"http://{host}:{port}/v1/chat/completions"

    def __enter__(self) -> "StubServer":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._server.shutdown()
        self._thread.join(timeout=10)
        self._server.server_close()

    # -- counters ---------------------------------------------------------
    def reset(self) -> None:
        with self._lock:
            self.requests = 0
            self.connections = 0
            self.failed = 0
            self.prompts: set[str] = set()
            #: (accepted, handler start, done) epoch seconds per request
            self.spans: list[tuple[float, float, float]] = []

    def count_request(self, prompt: str) -> None:
        with self._lock:
            self.requests += 1
            self.prompts.add(prompt)

    def count_connection(self) -> None:
        with self._lock:
            self.connections += 1

    def count_failure(self) -> None:
        with self._lock:
            self.failed += 1

    def record_request(self, accepted: float, start: float, done: float) -> None:
        with self._lock:
            self.spans.append((accepted, start, done))

    def snapshot(self) -> dict:
        with self._lock:
            return {"requests": self.requests,
                    "distinct_prompts": len(self.prompts),
                    "connections": self.connections,
                    "failed": self.failed,
                    "spans": list(self.spans)}
