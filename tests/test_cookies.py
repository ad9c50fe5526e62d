"""Cookie attachment (SURVEY §2.1 #17): RFC 6265 match semantics of
the reference's cookies module (modules/cookies/cookies.go:40-59) over
an explicit cookie store, plus the real-HTTP end-to-end path."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.sources.cookies import Cookie, cookie_header, with_cookie_header
from flyscrape_spark.sources.transport import with_request_headers

JAR = [
    Cookie("sid", "abc", "shop.test"),
    Cookie("host_only", "h", "shop.test", host_only=True),
    Cookie("admin", "1", "shop.test", path="/admin"),
    Cookie("tls", "s", "shop.test", secure=True),
    Cookie("other", "x", "elsewhere.test"),
]


def headers_for(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    out = df.withColumn("cookie", cookie_header(JAR))
    return {r["url"]: r["cookie"] for r in out.collect()}


def test_domain_path_secure_matching(spark):
    h = headers_for(spark, [
        "http://shop.test/",
        "http://sub.shop.test/",
        "http://shop.test/admin/panel",
        "http://shop.test/administrator",
        "https://shop.test/",
        "http://unrelated.test/",
        "http://notshop.test/",
        # java.net.URI rejects these (ANSI parse_url would raise)
        "http://shop.test/a b",
        "http://shop.test/admin/x|y",
        "https://shop.test/p?q={x}",
    ])
    # exact host: domain cookies + host-only both match
    assert h["http://shop.test/"] == "sid=abc; host_only=h"
    # subdomain: host-only excluded (RFC 6265 §5.1.3)
    assert h["http://sub.shop.test/"] == "sid=abc"
    # path /admin matches /admin/panel (next char '/')...
    assert h["http://shop.test/admin/panel"] == "admin=1; sid=abc; host_only=h"
    # ...but NOT /administrator (prefix without boundary, §5.1.4)
    assert h["http://shop.test/administrator"] == "sid=abc; host_only=h"
    # secure cookie only over https (§5.4)
    assert h["https://shop.test/"] == "sid=abc; host_only=h; tls=s"
    assert h["http://unrelated.test/"] == ""
    # suffix match requires a dot boundary: notshop.test != .shop.test
    assert h["http://notshop.test/"] == ""
    assert h["http://shop.test/a b"] == "sid=abc; host_only=h"
    assert h["http://shop.test/admin/x|y"] == "admin=1; sid=abc; host_only=h"
    assert h["https://shop.test/p?q={x}"] == "sid=abc; host_only=h; tls=s"


def test_longer_path_sorts_first(spark):
    # RFC 6265 §5.4.2: /admin (len 6) before / (len 1)
    h = headers_for(spark, ["http://shop.test/admin"])
    assert h["http://shop.test/admin"].startswith("admin=1")


def test_with_cookie_header_merges_into_request_headers(spark):
    cfg = CrawlConfig(cookies=JAR, headers={"X-K": "v"})
    df = spark.createDataFrame(
        [("http://shop.test/",), ("http://unrelated.test/",)], "url string"
    )
    out = {r["url"]: r["request_headers"]
           for r in with_request_headers(df, cfg).collect()}
    assert out["http://shop.test/"]["Cookie"] == "sid=abc; host_only=h"
    assert out["http://shop.test/"]["X-K"] == "v"
    # no match -> no Cookie key at all (the reference adds only matches)
    assert "Cookie" not in out["http://unrelated.test/"]


def test_no_request_headers_column(spark):
    df = spark.createDataFrame([("http://shop.test/x",)], "url string")
    out = with_cookie_header(df, JAR).collect()
    assert out[0]["request_headers"] == {"Cookie": "sid=abc; host_only=h"}


class EchoCookieHandler(BaseHTTPRequestHandler):
    def log_message(self, *a):
        pass

    def do_GET(self):
        body = ("<p>%s</p>" % self.headers.get("Cookie", "NONE")).encode()
        self.send_response(200)
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture
def cookie_server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), EchoCookieHandler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_http_transport_sends_cookies(spark, cookie_server):
    from flyscrape_spark.sources.transport import HttpTransport

    host = cookie_server.split("//")[1].split(":")[0]
    cfg = CrawlConfig(cookies=[Cookie("sid", "abc", host)])
    frontier = spark.createDataFrame(
        [(cookie_server + "/", 0)], "url string, depth int"
    ).selectExpr("url", "depth", "parse_url(url, 'HOST') AS host")
    fetched = HttpTransport(cfg, pace=False).fetch(frontier).collect()
    assert fetched[0]["status"] == 200
    assert fetched[0]["body"] == "<p>sid=abc</p>"
