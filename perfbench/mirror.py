"""Loopback HTTP server that plays every host of a synthetic site.

The crawler reaches it through ``--proxy``, so each request line carries the
absolute URL (``GET http://host/path``) and one server answers for the seed
host and all external asset hosts.  Requests are served by a fixed pool of
worker threads and counted, so the benchmark can check that every fetch-log
row is exactly one request on the wire.  Responses are not delayed: the time
a fetch takes is loopback plus the crawler's own client and server-side
Python, with no round trip made up by the benchmark.
"""

from __future__ import annotations

import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.0"

    def do_GET(self) -> None:  # noqa: N802 (http.server naming)
        server: MirrorServer = self.server  # type: ignore[assignment]
        t0 = time.perf_counter()
        body = server.site.get(self.path)
        if body is None:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
        else:
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
        server.note_request(t0, time.perf_counter())

    def log_message(self, *args) -> None:
        pass


class MirrorServer(HTTPServer):
    """Serves ``site`` ({absolute url: body}) on 127.0.0.1 with at most
    ``threads`` concurrent handlers."""

    def __init__(self, site: dict[str, bytes], threads: int):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.site = site
        self.requests = 0
        # (start, end) of every request served, on the perf_counter clock
        self.intervals: list[tuple[float, float]] = []
        self._count_lock = threading.Lock()
        self._pool = ThreadPoolExecutor(max_workers=threads,
                                        thread_name_prefix="mirror")
        self._loop = threading.Thread(target=self.serve_forever,
                                      name="mirror-accept", daemon=True)

    @property
    def proxy_url(self) -> str:
        return f"http://127.0.0.1:{self.server_address[1]}"

    def note_request(self, start: float, end: float) -> None:
        with self._count_lock:
            self.requests += 1
            self.intervals.append((start, end))

    def process_request(self, request, client_address) -> None:
        self._pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address) -> None:
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def start(self) -> "MirrorServer":
        self._loop.start()
        return self

    def close(self) -> None:
        self.shutdown()
        self._loop.join()
        self._pool.shutdown(wait=True)
        self.server_close()
