"""The fixture site the ``ingest`` workload scrapes: a
``ThreadingHTTPServer`` on 127.0.0.1 serving a ``gen.Site``.

Routes mirror the real site: ``cli.URL_PATHS[type]?_cur=N`` listing
pages and ``/documents/{type}/{uid}.pdf`` files. HTTP/1.0 (one request
per connection), no added latency. The server counts every request by
kind so the benchmark can report requests per product from outside the
program.
"""

from __future__ import annotations

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from gen import Site, render_page
from insurance_helper_spark.cli import URL_PATHS

LISTING_PATHS = {path: pt for pt, path in URL_PATHS.items()}


class FixtureSite:
    """Serve ``site`` in a background thread; ``phase`` switches between
    the first publication and the one with new listings."""

    def __init__(self, site: Site) -> None:
        self.site = site
        self.phase = 1
        self._lock = threading.Lock()
        self.counts = {"listing": 0, "document": 0, "other": 0}
        self.bytes_served = 0
        handler = self._handler()
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), handler)
        self.server.daemon_threads = True
        self.base_url = f"http://127.0.0.1:{self.server.server_address[1]}"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)

    def __enter__(self) -> FixtureSite:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)

    def reset_counts(self) -> dict:
        with self._lock:
            snap = dict(self.counts, bytes=self.bytes_served)
            self.counts = dict.fromkeys(self.counts, 0)
            self.bytes_served = 0
        return snap

    def _count(self, kind: str, n: int) -> None:
        with self._lock:
            self.counts[kind] += 1
            self.bytes_served += n

    def _handler(self):
        fixture = self

        class Handler(BaseHTTPRequestHandler):
            # Headers and body leave in one segment each without waiting
            # for the client's delayed ACK (no added latency).
            disable_nagle_algorithm = True

            def do_GET(self) -> None:  # noqa: N802 (http.server API)
                parts = urlsplit(self.path)
                body, kind, ctype = None, "other", "text/html"
                if parts.path in LISTING_PATHS:
                    page = int(parse_qs(parts.query).get("_cur", ["1"])[0])
                    body = render_page(
                        fixture.site, fixture.base_url, LISTING_PATHS[parts.path],
                        fixture.phase, page, parts.path,
                    ).encode()
                    kind = "listing"
                elif parts.path in fixture.site.documents:
                    body, kind, ctype = fixture.site.documents[parts.path], "document", "application/pdf"
                fixture._count(kind, len(body or b""))
                if body is None:
                    self.send_error(404)
                    return
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:
                pass

        return Handler
