"""Loopback HTTP server for the ``crawl_polite`` workload.

Serves a stock fixture (``goribot_spark.sources.fixtures.generate_all``)
over real sockets so the engine's live fetch leg (``fetch_mode="live"``)
has something to crawl. Fixture host ``siteN.test`` becomes the loopback
address ``127.0.x.y`` numbered N + 2, all on one port: the server listens
on every interface and tells hosts apart by the local address each
connection arrived on.

Each page body is the fixture body with its URLs rewritten: absolute links
point at the loopback hosts, ``img://ID`` refs become ``/img/ID.png`` on the
page's own host, and an HTML ``alt="ID"`` becomes the fixture caption of
that image, which is what the live leg records as the result's caption.
Flaky pages answer 500 for their first ``fail_times`` hits, and each host
serves a ``robots.txt`` built from the fixture's robots rules.

Requests are handled by a fixed pool of threads inside the calling
process. The counters feed the benchmark's ``fetch.*`` metrics.
"""

from __future__ import annotations

import gzip
import os
import re
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

import pyarrow.parquet as pq

_SITE = re.compile(rb"http://site(\d+)\.test")
_IMG_SRC = re.compile(rb"img://(img-\d{8})")
_IMG_ALT = re.compile(rb'alt="(img-\d{8})"')
_JSON_IMG = re.compile(rb'"(img-\d{8})"')


def loopback_ip(site: int) -> str:
    n = site + 2
    return f"127.0.{n >> 8}.{n & 255}"


def site_of_ip(ip: str) -> int:
    _, _, hi, lo = ip.split(".")
    return (int(hi) << 8) + int(lo) - 2


class FixtureSite:
    """The fixture's pages, images and robots, rewritten for loopback."""

    def __init__(self, fixtures_dir: str, port: int):
        self.port = port
        images = pq.read_table(
            f"{fixtures_dir}/images.parquet", columns=["image_id", "bytes", "caption"]
        ).to_pydict()
        self.png = dict(zip(images["image_id"], images["bytes"]))
        self.caption = dict(zip(images["image_id"], images["caption"]))
        pages = pq.read_table(
            f"{fixtures_dir}/pages.parquet",
            columns=["url", "host", "status", "fail_times", "content_type", "body"],
        ).to_pylist()
        # (site, path) -> (status, fail_times, content_type, body)
        self.pages: dict[tuple[int, str], tuple[int, int, str, bytes]] = {}
        for p in pages:
            site = int(p["host"][4:-5])
            path = p["url"].split("/", 3)[3]
            self.pages[(site, "/" + path)] = (
                p["status"],
                p["fail_times"],
                p["content_type"],
                self._rewrite(p["body"], p["content_type"]),
            )
        # site -> ua -> ["Allow: /", "Disallow: /p/1", ...]
        groups: dict[int, dict[str, list[str]]] = {}
        for r in pq.read_table(f"{fixtures_dir}/robots_rules.parquet").to_pylist():
            groups.setdefault(int(r["host"][4:-5]), {}).setdefault(r["ua"], []).append(
                f"{'Allow' if r['allow'] else 'Disallow'}: {r['path_prefix']}\n"
            )
        self.robots: dict[int, bytes] = {
            site: "".join(
                f"User-agent: {ua}\n" + "".join(lines) + "\n" for ua, lines in by_ua.items()
            ).encode()
            for site, by_ua in groups.items()
        }

    def page_rows(self) -> list[tuple[str, str, bytes]]:
        """(url, content_type, body) of every page as served."""
        return [
            (f"http://{loopback_ip(site)}:{self.port}{path}", ctype, body)
            for (site, path), (_, _, ctype, body) in self.pages.items()
        ]

    def url(self, fixture_url: str) -> str:
        """Fixture URL -> the URL the live crawl sees for it."""
        return _SITE.sub(self._host_repl, fixture_url.encode()).decode()

    def _host_repl(self, m: re.Match) -> bytes:
        return f"http://{loopback_ip(int(m.group(1)))}:{self.port}".encode()

    def _rewrite(self, body: bytes, ctype: str) -> bytes:
        gz = body[:2] == b"\x1f\x8b"
        if gz:
            body = gzip.decompress(body)
        body = _SITE.sub(self._host_repl, body)
        if "json" in ctype:
            body = _JSON_IMG.sub(rb'"/img/\1.png"', body)
        else:
            body = _IMG_ALT.sub(
                lambda m: b'alt="' + self.caption[m.group(1).decode()].encode() + b'"',
                body,
            )
            body = _IMG_SRC.sub(rb"/img/\1.png", body)
        return gzip.compress(body, 6, mtime=0) if gz else body


class _Handler(BaseHTTPRequestHandler):
    server_version = "perfbench-fixture/1"

    def log_message(self, *a):
        pass

    def do_GET(self):
        srv: FixtureServer = self.server
        t0, c0 = time.perf_counter(), time.thread_time()
        site = site_of_ip(self.connection.getsockname()[0])
        status = srv.serve(self, site, self.path.split("?", 1)[0])
        srv.account(site, self.path, status, time.perf_counter() - t0,
                    time.thread_time() - c0)

    def reply(self, status: int, ctype: str | None = None, body: bytes = b""):
        self.send_response(status)
        if ctype:
            self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


class FixtureServer(HTTPServer):
    """HTTP server over a :class:`FixtureSite` with one handler thread per
    CPU. Use as a context manager; ``reset()`` clears the
    flaky-page hit counts and the counters between crawls."""

    request_queue_size = 512
    allow_reuse_address = True

    def __init__(self, fixtures_dir: str):
        super().__init__(("0.0.0.0", 0), _Handler)
        self.site = FixtureSite(fixtures_dir, self.server_address[1])
        self._pool = ThreadPoolExecutor(max_workers=os.cpu_count() or 1)
        self._lock = threading.Lock()
        self._thread: threading.Thread | None = None
        self.reset()

    def reset(self) -> None:
        with self._lock:
            self.hits: dict[tuple[int, str], int] = {}
            self.requests = 0
            self.failed = 0
            self.busy_s = 0.0
            self.cpu_s = 0.0
            self.robots_requests = 0
            self.robots_hosts: set[int] = set()

    def serve(self, h: _Handler, site: int, path: str) -> int:
        if path == "/robots.txt":
            body = self.site.robots.get(site)
            if body is None:
                h.reply(404)
                return 404
            h.reply(200, "text/plain", body)
            return 200
        if path.startswith("/img/") and path.endswith(".png"):
            png = self.site.png.get(path[5:-4])
            if png is None:
                h.reply(404)
                return 404
            h.reply(200, "image/png", png)
            return 200
        page = self.site.pages.get((site, path))
        if page is None:
            h.reply(404)
            return 404
        status, fail_times, ctype, body = page
        with self._lock:
            n = self.hits[(site, path)] = self.hits.get((site, path), 0) + 1
        if n <= fail_times:
            h.reply(500)
            return 500
        h.reply(status, ctype, body)
        return status

    def account(self, site: int, path: str, status: int, wall: float, cpu: float):
        with self._lock:
            self.requests += 1
            self.failed += status >= 400
            self.busy_s += wall
            self.cpu_s += cpu
            if path == "/robots.txt":
                self.robots_requests += 1
                self.robots_hosts.add(site)

    def counters(self) -> dict:
        with self._lock:
            return {
                "requests": self.requests,
                "failed": self.failed,
                "busy_s": self.busy_s,
                "cpu_s": self.cpu_s,
                "robots_requests": self.robots_requests,
                "robots_hosts": len(self.robots_hosts),
            }

    # -- pooled request handling -------------------------------------------

    def process_request(self, request, client_address):
        self._pool.submit(self._handle, request, client_address)

    def _handle(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def __enter__(self):
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.shutdown()
        self._thread.join()
        self._pool.shutdown(wait=True)
        self.server_close()
