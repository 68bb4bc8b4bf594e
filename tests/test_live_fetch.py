"""Live HTTP fetch leg (S4) — end-to-end against a localhost fixture server.

The reference tests its downloader against real local HTTP servers
(net_test.go:18-38, _examples/benchmark_server.go:11-19); this mirrors that:
a stdlib ThreadingHTTPServer serves a small deterministic site (flaky page,
Set-Cookie page, gzip page, undeclared-GBK page, PNG images with alt
captions) and the engine crawls it with ``fetch_mode="live"`` — real sockets
from the executors via mapInPandas, no pages/images fixture tables at all.
"""

from __future__ import annotations

import gzip
import os
import shutil
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pytest
from pyspark.sql import functions as F

from goribot_spark.engine import CrawlConfig, CrawlEngine
from goribot_spark.functions.pngcodec import decode_png, encode_png, phash64


def _pixels(i: int) -> np.ndarray:
    yy, xx = np.mgrid[0:24, 0:32]
    r = ((xx * (i + 1) + yy) % 256).astype(np.uint8)
    g = ((xx + yy * (i + 2)) % 256).astype(np.uint8)
    b = ((xx * yy + i) % 256).astype(np.uint8)
    return np.stack([r, g, b], axis=2)


PNGS = {f"/img/{i}.png": encode_png(_pixels(i)) for i in range(3)}


def _html(title: str, links: list[str] = (), imgs: list[tuple[str, str]] = ()) -> bytes:
    body = "".join(f'<a href="{h}">{h}</a>' for h in links)
    body += "".join(f'<img src="{s}" alt="{a}">' for s, a in imgs)
    return f"<html><head><title>{title}</title></head><body>{body}</body></html>".encode()


class _Site(BaseHTTPRequestHandler):
    server_version = "fixture/1"

    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):
        srv = self.server
        path = self.path
        if path.startswith("http://"):  # proxy-style absolute-URI request
            srv.proxied_paths.append(path)
            path = "/" + path.split("/", 3)[3]
        with srv.lock:
            srv.seen_headers.setdefault(path, []).append(dict(self.headers))
        tgt = getattr(srv, "redirects", {}).get(path)
        if tgt is not None:
            self.send_response(302)
            self.send_header("Location", tgt)
            self.end_headers()
            return
        extra = getattr(srv, "extra_pages", {}).get(path)
        if extra is not None:
            body, ctype = extra
            self._page(body, ctype=ctype)
        elif path == "/robots.txt":
            with srv.lock:
                seq = getattr(srv, "robots_status_seq", [])
                forced = seq.pop(0) if seq else None
            if forced is not None:
                self.send_response(forced)
                self.end_headers()
            elif getattr(srv, "serve_robots", False):
                self._page(
                    getattr(srv, "robots_body", None)
                    or b"# fixture robots\nUser-agent: *\nDisallow: /p/4\n"
                    b"User-agent: badbot\nDisallow: /\n",
                    ctype="text/plain",
                )
            else:
                self.send_response(404)
                self.end_headers()
        elif path == "/p/0":
            self._page(_html("root", ["/p/1", "2"], [("/img/0.png", "caption zero")]))
        elif path == "/p/1":
            self._page(
                _html("one", ["/p/3"]),
                extra=[("Set-Cookie", "session=s1; Path=/")],
            )
        elif path == "/p/2":
            self._page(
                gzip.compress(_html("two", ["/p/4"]), 6),
                ctype="text/html; charset=utf-8",
            )
        elif path == "/p/3":
            body = (
                "<html><head><title>three 中文页</title></head><body>"
                '<a href="/p/5">链接</a></body></html>'
            ).encode("gbk")
            self._page(body, ctype="text/html")  # NO charset declared → detector
        elif path == "/p/4":
            with srv.lock:
                srv.flaky_hits += 1
                fail = srv.flaky_hits <= 2
            if fail:
                self.send_response(500)
                self.end_headers()
            else:
                self._page(_html("four", [], [("/img/1.png", "caption one")]))
        elif path == "/p/5":
            self._page(_html("five", [], [("/img/2.png", "caption two")]))
        elif path in PNGS:
            self.send_response(200)
            self.send_header("Content-Type", "image/png")
            self.end_headers()
            self.wfile.write(PNGS[path])
        else:
            self.send_response(404)
            self.end_headers()

    def _page(self, body: bytes, ctype="text/html; charset=utf-8", extra=()):
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        for k, v in extra:
            self.send_header(k, v)
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def site():
    # Bind all interfaces: 127.0.0.2 / 127.0.0.3 are distinct *hosts* to the
    # engine (loopback aliases) but the same physical fixture server — used
    # by the multi-host robots-increment test.
    srv = ThreadingHTTPServer(("0.0.0.0", 0), _Site)
    srv.lock = threading.Lock()
    srv.seen_headers = {}
    srv.proxied_paths = []
    srv.flaky_hits = 0
    srv.extra_pages = {}
    srv.robots_status_seq = []
    srv.redirects = {}
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()
    t.join(timeout=5)


def test_live_crawl_end_to_end(spark, site, tmp_path):
    base = f"http://127.0.0.1:{site.server_address[1]}"
    run = str(tmp_path / "run")
    shutil.rmtree(run, ignore_errors=True)
    cfg = CrawlConfig(fetch_mode="live", retry_max=2, max_waves=12, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed([f"{base}/p/0"])
    eng.run()

    # Fetched set: the whole 6-page tree, including the flaky page (after 2
    # retries), the gzip page, and the GBK page whose 链接 link the charset
    # detector must surface.
    log = eng.store.fetch_log().select("url", "retry_count").collect()
    urls = {r["url"] for r in log}
    assert urls == {f"{base}/p/{k}" for k in range(6)}

    # Retry accounting (R1/R2): /p/4 is scheduled 3 times (retry_count 0,1,2)
    # and the server saw exactly 3 requests for it.
    p4 = sorted(r["retry_count"] for r in log if r["url"].endswith("/p/4"))
    assert p4 == [0, 1, 2]
    assert site.flaky_hits == 3

    # Cookie jar round-trip (net.go:261-263): /p/1 set session=s1 in wave 1;
    # /p/3 (fetched a wave later) must carry it back. host_state snapshots it.
    p3_headers = site.seen_headers["/p/3"]
    assert any("session=s1" in h.get("Cookie", "") for h in p3_headers)
    jar = {r["host"]: r["cookies"] for r in eng.store.host_state().collect()}
    assert jar[f"127.0.0.1"]["session"] == "s1"

    # UA honored at the socket (P6): every request carried the config UA.
    assert all(
        h.get("User-Agent") == "live-test"
        for hs in site.seen_headers.values()
        for h in hs
    )

    # Image payloads fetched over HTTP, decoded, captioned from alt text;
    # pixel parity with the served PNGs (exact roundtrip → PSNR ∞).
    res = {r["image_id"]: r for r in eng.store.read("results").collect()}
    assert set(res) == {f"{base}/img/{i}.png" for i in range(3)}
    for i, cap in enumerate(["caption zero", "caption one", "caption two"]):
        r = res[f"{base}/img/{i}.png"]
        assert r["caption"] == cap
        assert r["decode_error"] is None
        px = decode_png(bytes(r["bytes"]))
        assert np.array_equal(px, _pixels(i))
        assert r["phash"] == phash64(_pixels(i))
        assert (r["w"], r["h"]) == (32, 24)

    # Exactly-once at the wire: every page and image URL was requested once
    # (the flaky page's 3 hits are its retries) — pins the eager checkpoint
    # on both side-effecting live_fetch stages.
    hits = {p: len(hs) for p, hs in site.seen_headers.items()}
    assert all(hits[f"/img/{i}.png"] == 1 for i in range(3))
    assert all(hits[f"/p/{k}"] == 1 for k in (0, 1, 2, 3, 5))


def test_live_fetch_error_routing(spark, site, tmp_path):
    """Transport errors (connection refused) → status null → retry then a
    terminal fetch_error row, mirroring the synthetic path's R1/F8."""
    base = f"http://127.0.0.1:{site.server_address[1]}"
    run = str(tmp_path / "run_err")
    cfg = CrawlConfig(fetch_mode="live", retry_max=1, max_waves=6, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed([f"{base}/p/5", "http://127.0.0.1:9/nope"])
    eng.run()
    errs = eng.store.read("errors").collect()
    assert any(
        r["url"] == "http://127.0.0.1:9/nope"
        and r["error_kind"] == "fetch_error"
        and r["retry_count"] == 1
        for r in errs
    )
    ok_urls = {r["url"] for r in eng.store.fetch_log().collect()}
    assert f"{base}/p/5" in ok_urls


def test_live_fetch_proxy_and_request_shape(spark, site, tmp_path):
    """Per-request proxy + headers honored at the socket (net.go:283-290,
    SetProxy net.go:134-139): a request to an unresolvable host succeeds
    through the fixture server acting as HTTP proxy (absolute-URI request
    line), and meta-carried h:/c: keys reach the wire."""
    base = f"http://127.0.0.1:{site.server_address[1]}"
    run = str(tmp_path / "run_proxy")
    cfg = CrawlConfig(fetch_mode="live", max_waves=3, max_depth=1, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed(
        ["http://proxied.test/p/5"],
        meta={"proxy": base, "h:X-Extra": "42", "c:tok": "abc"},
    )
    eng.run()
    assert any(p.startswith("http://proxied.test/p/5") for p in site.proxied_paths)
    hs = site.seen_headers["/p/5"]
    assert any(h.get("X-Extra") == "42" for h in hs)
    assert any("tok=abc" in h.get("Cookie", "") for h in hs)
    assert {r["url"] for r in eng.store.fetch_log().collect()} == {
        "http://proxied.test/p/5"
    }


def test_live_redirect_resolution_and_identity(spark, site, tmp_path):
    """Redirect semantics (goribot.go:163-166; net/http rewrites
    Request.URL per hop, urllib follows the same way): relative links and
    image refs resolve against the FINAL post-redirect URL, while the
    frontier/dedup/retry key stays the REQUESTED url."""
    base = f"http://127.0.0.1:{site.server_address[1]}"
    site.redirects["/r/0"] = "/p/sub/real"
    site.extra_pages["/p/sub/real"] = (
        _html("real", ["next"], [("i.png", "sub image")]),
        "text/html; charset=utf-8",
    )
    site.extra_pages["/p/sub/next"] = (_html("next"), "text/html; charset=utf-8")
    site.extra_pages["/p/sub/i.png"] = (PNGS["/img/0.png"], "image/png")
    run = str(tmp_path / "run_redirect")
    cfg = CrawlConfig(fetch_mode="live", max_waves=6, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed([f"{base}/r/0"])
    eng.run()
    urls = {r["url"] for r in eng.store.fetch_log().collect()}
    # requested URL is the frontier identity; the relative link resolved
    # against the redirect TARGET's directory, not /r/
    assert f"{base}/r/0" in urls
    assert f"{base}/p/sub/next" in urls
    assert f"{base}/r/next" not in urls and f"{base}/next" not in urls
    # image ref likewise resolved against the final URL; caption intact
    res = {r["image_id"]: r for r in eng.store.read("results").collect()}
    assert f"{base}/p/sub/i.png" in res
    assert res[f"{base}/p/sub/i.png"]["caption"] == "sub image"
    assert res[f"{base}/p/sub/i.png"]["decode_error"] is None
    # dedup keys use the REQUESTED url: re-seeding it is a duplicate
    assert eng.seed([f"{base}/r/0"]) == 0


def test_live_forced_charset_meta(spark, site, tmp_path):
    """Forced response charset (net.go:94 ResponseCharacterEncoding,
    honored ahead of detection at net.go:199-201): a page that LIES about
    its encoding (GBK bytes, charset=utf-8 declared) decodes correctly when
    the request meta carries charset=gbk — the declared header would
    otherwise win and mojibake the caption."""
    base = f"http://127.0.0.1:{site.server_address[1]}"
    body = (
        '<html><head><title>说谎页</title></head><body>'
        '<img src="/img/0.png" alt="中文说明"></body></html>'
    ).encode("gbk")
    site.extra_pages["/p/lie"] = (body, "text/html; charset=utf-8")
    run = str(tmp_path / "run_charset")
    cfg = CrawlConfig(fetch_mode="live", max_waves=4, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed([f"{base}/p/lie"], meta={"charset": "gbk"})
    eng.run()
    res = {r["image_id"]: r for r in eng.store.read("results").collect()}
    assert res[f"{base}/img/0.png"]["caption"] == "中文说明"


def test_parse_one_forced_charset_unit():
    """_parse_one honors the forced charset ahead of a lying declared one;
    an unknown codec name falls through to the detector instead of failing."""
    from goribot_spark.operators.parse import _parse_one

    body = "<html><head><title>中文</title></head><body></body></html>".encode("gbk")
    _, _, _, title, err = _parse_one(body, "text/html; charset=utf-8", "gbk")
    assert err is None and title == "中文"
    _, _, _, title2, err2 = _parse_one(body, "text/html; charset=utf-8", None)
    assert err2 is None and title2 != "中文"  # lying header wins without force
    _, _, _, title3, err3 = _parse_one(body, "text/html", "no-such-codec")
    assert err3 is None and title3 == "中文"  # detector fallback


def test_cookie_jar_preseed(spark, site, tmp_path):
    """AddCookieToJar (extensions.go:272-285): cookies pre-seeded into the
    jar ride on the very first (wave-0) requests to the host, merge with
    later Set-Cookie state, and survive in the host_state snapshot."""
    base = f"http://127.0.0.1:{site.server_address[1]}"
    run = str(tmp_path / "run_preseed")
    cfg = CrawlConfig(fetch_mode="live", max_waves=4, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.add_cookies_to_jar(f"{base}/", {"tok": "pre1", "b": "2"})
    eng.seed([f"{base}/p/5"])
    eng.run()
    hs = site.seen_headers["/p/5"]
    assert any(
        "tok=pre1" in h.get("Cookie", "") and "b=2" in h.get("Cookie", "")
        for h in hs
    )
    jar = {r["host"]: r["cookies"] for r in eng.store.host_state().collect()}
    assert jar["127.0.0.1"]["tok"] == "pre1" and jar["127.0.0.1"]["b"] == "2"


def test_parse_robots_txt_grammar():
    from goribot_spark.operators.fetch import parse_robots_txt

    text = (
        "# comment\nUser-agent: *\nDisallow: /private\nAllow: /private/ok\n\n"
        "User-agent: badbot\nUser-agent: worsebot\nDisallow: /\n"
        "User-agent: emptybot\nDisallow:\n"
    )
    rules = parse_robots_txt(text)
    assert ("*", "/private", False) in rules
    assert ("*", "/private/ok", True) in rules
    assert ("badbot", "/", False) in rules and ("worsebot", "/", False) in rules
    assert ("emptybot", "/", True) in rules


def test_live_robots_fetch_and_enforce(spark, site, tmp_path):
    """F2's live leg: robots.txt is fetched over HTTP once per host, cached
    in the robots_live table, and enforced at admission — the disallowed
    subtree is never requested (reference RobotsTxt extension,
    extensions.go:131-151)."""
    site.serve_robots = True
    base = f"http://127.0.0.1:{site.server_address[1]}"
    run = str(tmp_path / "run_robots")
    cfg = CrawlConfig(fetch_mode="live", robots=True, retry_max=2, max_waves=12,
                      ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed([f"{base}/p/0"])
    eng.run()
    urls = {r["url"] for r in eng.store.fetch_log().select("url").collect()}
    # /p/4 is disallowed for '*' → never scheduled; the rest of the tree is
    assert f"{base}/p/4" not in urls
    assert urls == {f"{base}/p/{k}" for k in (0, 1, 2, 3, 5)}
    assert site.flaky_hits == 0  # /p/4 (the flaky page) never hit the wire
    # robots.txt fetched exactly once for the single host
    assert len(site.seen_headers.get("/robots.txt", [])) == 1
    # cached rules landed in the store (resumable) and mark the host
    rules = {
        (r["ua"], r["path_prefix"], r["allow"])
        for r in eng.store.read("robots_live").collect()
    }
    assert ("*", "/p/4", False) in rules and ("badbot", "/", False) in rules
    # its image never fetched either (parent page never parsed)
    res_ids = {r["image_id"] for r in eng.store.read("results").collect()}
    assert f"{base}/img/1.png" not in res_ids
    assert f"{base}/img/0.png" in res_ids


def test_live_robots_increments_accumulate(spark, site, tmp_path):
    """Regression (r3 ADVICE): several robots increments within ONE wave
    must all survive in the robots_live store. /p/multi makes the same wave
    fetch robots for a candidate-link host (127.0.0.2) AND an image host
    (127.0.0.3); the old per-wave overwrite clobbered the first increment,
    so a resumed session would re-fetch that host's robots."""
    site.serve_robots = True
    port = site.server_address[1]
    base = f"http://127.0.0.1:{port}"
    site.extra_pages["/p/multi"] = (
        _html(
            "multi",
            [f"http://127.0.0.2:{port}/p/5"],
            [(f"http://127.0.0.3:{port}/img/0.png", "x-host image")],
        ),
        "text/html; charset=utf-8",
    )
    run = str(tmp_path / "run_rob_inc")
    cfg = CrawlConfig(fetch_mode="live", robots=True, max_waves=8, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed([f"{base}/p/multi"])
    eng.run()
    hosts = {r["host"] for r in eng.store.read("robots_live").collect()}
    assert {"127.0.0.1", "127.0.0.2", "127.0.0.3"} <= hosts
    # The /p/multi wave runs ONE robots lookup over its link and image
    # hosts: both land in that wave's single increment (each append adds
    # one part file), and each host's robots.txt is requested once.
    (multi_wave,) = [
        r["wave"]
        for r in eng.store.fetch_log().collect()
        if r["url"] == f"{base}/p/multi"
    ]
    inc = eng.store.wave_path("robots_live", multi_wave)
    assert len([f for f in os.listdir(inc) if f.endswith(".parquet")]) == 1
    assert {r["host"] for r in spark.read.parquet(inc).collect()} == {
        "127.0.0.2",
        "127.0.0.3",
    }
    robots_hosts = [h["Host"].split(":")[0] for h in site.seen_headers["/robots.txt"]]
    assert sorted(robots_hosts) == ["127.0.0.1", "127.0.0.2", "127.0.0.3"]
    # Resume contract: a fresh session on the same run_dir sees the cached
    # rules for ALL three hosts and fetches robots.txt for none of them.
    n_before = len(site.seen_headers["/robots.txt"])
    eng2 = CrawlEngine(spark, None, run, cfg)
    eng2.seed([f"http://127.0.0.2:{port}/p/0", f"http://127.0.0.3:{port}/p/0"])
    eng2.run()
    assert len(site.seen_headers["/robots.txt"]) == n_before


def test_live_robots_5xx_transient_disallow(spark, site, tmp_path):
    """RFC 9309 unreachable-robots semantics (r3 ADVICE): a 5xx robots.txt
    means disallow-all for the wave — but is NOT cached, so the host is
    re-fetched on a later wave instead of being whitelisted (old behavior
    cached ANY failure as a permanent allow-all marker)."""
    site.serve_robots = True
    site.robots_status_seq.append(503)  # first robots request: server error
    base = f"http://127.0.0.1:{site.server_address[1]}"
    run = str(tmp_path / "run_rob_5xx")
    cfg = CrawlConfig(fetch_mode="live", robots=True, max_waves=6, ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    n0 = eng.seed([f"{base}/p/5"])
    assert n0 == 0  # outage → disallow-all: the seed is not admitted
    eng.run()
    assert eng.store.fetch_log().count() == 0  # nothing hit the wire
    # ...and nothing was persisted: the outage is not a durable allow-all
    assert eng.store.read("robots_live").where("host = '127.0.0.1'").count() == 0
    # Next wave: robots recovered → re-fetched, page admitted and crawled.
    n1 = eng.seed([f"{base}/p/5"])
    assert n1 == 1
    eng.run()
    assert {r["url"] for r in eng.store.fetch_log().collect()} == {f"{base}/p/5"}
    assert len(site.seen_headers["/robots.txt"]) == 2
    # the recovered rules ARE cached now
    assert eng.store.read("robots_live").where("host = '127.0.0.1'").count() > 0


def test_live_robots_blocks_image_fetches(spark, site, tmp_path):
    """Image payload URLs are HTTP requests like any other: a robots rule
    disallowing an image path blocks the image GET even though its parent
    page is allowed and parsed."""
    site.serve_robots = True
    site.robots_body = b"User-agent: *\nDisallow: /img/2\n"
    base = f"http://127.0.0.1:{site.server_address[1]}"
    run = str(tmp_path / "run_robots_img")
    cfg = CrawlConfig(fetch_mode="live", robots=True, retry_max=2, max_waves=12,
                      ua="live-test")
    eng = CrawlEngine(spark, None, run, cfg)
    eng.seed([f"{base}/p/0"])
    eng.run()
    urls = {r["url"] for r in eng.store.fetch_log().select("url").collect()}
    assert f"{base}/p/5" in urls  # the referencing page itself is allowed
    res_ids = {r["image_id"] for r in eng.store.read("results").collect()}
    assert f"{base}/img/0.png" in res_ids and f"{base}/img/1.png" in res_ids
    assert f"{base}/img/2.png" not in res_ids
    assert "/img/2.png" not in site.seen_headers  # never hit the wire
