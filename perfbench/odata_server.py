"""Loopback OData server for the extraction workload (stdlib only).

Serves a feed written by the benchmark as the WHO GHO API would:

- ``GET /api/<entity set>?$filter=SpatialDim eq 'XXX'&$top=N&$skip=M``
  returns ``{"value": [...]}``; ``$orderby`` is accepted and ignored (rows
  are stored in ``TimeDim`` order already);
- an unknown entity set is answered 404;
- a seeded set of pages is answered once with HTTP 503 per epoch, so the
  client's retry path runs on every extraction.

Pages of the client's page size are encoded at start-up, so serving one is
a dictionary lookup and the server's own CPU use stays small.

Control endpoints (not counted): ``GET /_epoch`` returns the counters of
the epoch that just ended and starts a new one (re-arming the 503s).

Run: ``python3 odata_server.py FEED.json`` — prints ``PORT <n>`` once
listening on 127.0.0.1, then serves until terminated.
"""

from __future__ import annotations

import json
import re
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

_FILTER = re.compile(r"^SpatialDim eq '((?:[^']|'')*)'$")


def _encode(rows: list[dict]) -> tuple[bytes, int]:
    return json.dumps({"value": rows}, separators=(",", ":")).encode(), len(rows)


class Feed:
    """Entity sets -> country -> rows, with pre-encoded pages."""

    def __init__(self, doc: dict):
        self.page_size = int(doc["page_size"])
        # entity set -> {country or "" -> rows}
        self.sets: dict[str, dict[str, list[dict]]] = doc["sets"]
        self.fail_once = {tuple(p) for p in doc.get("fail_once", [])}
        self.pages: dict[tuple[str, str, int], tuple[bytes, int]] = {}
        n = self.page_size
        for name, by_country in self.sets.items():
            for country, rows in by_country.items():
                for skip in range(0, len(rows) + 1, n):
                    self.pages[(name, country, skip)] = _encode(rows[skip : skip + n])

    def page(self, name: str, country: str | None, top: int, skip: int) -> tuple[bytes, int] | None:
        """(encoded page, record count), or None for an unknown entity set."""
        by_country = self.sets.get(name)
        if by_country is None:
            return None
        key = (name, country or "", skip)
        if top == self.page_size and key in self.pages:
            return self.pages[key]
        if country is None:
            rows = [r for c in sorted(by_country) for r in by_country[c]]
        else:
            rows = by_country.get(country, [])
        return _encode(rows[skip : skip + top])


class Stats:
    FIELDS = ("requests", "connections", "bytes_served", "errors_injected", "records_served")

    def __init__(self):
        self.lock = threading.Lock()
        self.reset()

    def reset(self) -> dict:
        with self.lock:
            old = dict(getattr(self, "counts", {}))
            old["distinct_pages"] = len(getattr(self, "urls", ()))
            self.counts = dict.fromkeys(self.FIELDS, 0)
            self.urls: set[str] = set()
            self.failed: set[tuple] = set()
            return old


def make_handler(feed: Feed, stats: Stats):
    class Handler(BaseHTTPRequestHandler):
        # headers and body go out as separate writes; without TCP_NODELAY
        # the second one waits for the client's delayed ACK
        disable_nagle_algorithm = True

        def setup(self):
            super().setup()
            with stats.lock:
                stats.counts["connections"] += 1

        def log_message(self, *args):  # quiet
            pass

        def _send(self, status: int, body: bytes) -> None:
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)
            with stats.lock:
                stats.counts["bytes_served"] += len(body)

        def do_GET(self):
            parts = urlsplit(self.path)
            if parts.path == "/_epoch":
                with stats.lock:
                    stats.counts["connections"] -= 1  # this control connection
                body = json.dumps(stats.reset()).encode()
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)
                return
            with stats.lock:
                stats.counts["requests"] += 1
                stats.urls.add(self.path)
            if not parts.path.startswith("/api/"):
                self._send(404, b"{}")
                return
            name = parts.path[len("/api/") :]
            q = parse_qs(parts.query)
            country = None
            if "$filter" in q:
                m = _FILTER.match(q["$filter"][0])
                if not m:
                    self._send(400, b"{}")
                    return
                country = m.group(1).replace("''", "'")
            top = int(q.get("$top", [feed.page_size])[0])
            skip = int(q.get("$skip", ["0"])[0])
            key = (name, country or "", skip)
            if key in feed.fail_once:
                with stats.lock:
                    first = key not in stats.failed
                    stats.failed.add(key)
                    if first:
                        stats.counts["errors_injected"] += 1
                if first:
                    self._send(503, b"{}")
                    return
            page = feed.page(name, country, top, skip)
            if page is None:
                self._send(404, b"{}")
                return
            with stats.lock:
                stats.counts["records_served"] += page[1]
            self._send(200, page[0])

    return Handler


def serve(feed_doc: dict, port: int = 0) -> ThreadingHTTPServer:
    """Build (not start) a server on 127.0.0.1; ``port=0`` picks a free one."""
    server = ThreadingHTTPServer(("127.0.0.1", port), make_handler(Feed(feed_doc), Stats()))
    server.daemon_threads = True
    return server


def main() -> None:
    with open(sys.argv[1]) as fh:
        doc = json.load(fh)
    server = serve(doc)
    print(f"PORT {server.server_address[1]}", flush=True)
    try:
        server.serve_forever()
    finally:
        server.server_close()


if __name__ == "__main__":
    main()
