"""Cookie attachment (SURVEY §2.1 #17).

The reference's cookies module reads the user's browser cookie store
(chrome/edge/firefox) and, per request, attaches every stored cookie
matching the request URL (/root/reference/modules/cookies/cookies.go:40-59
— kooky's ``store.Cookies(r.URL)`` applies RFC 6265 domain/path/secure
matching). This sandbox has no browser profile, so the store is an
explicit, deterministic cookie table; the per-request matching is the
same RFC 6265 algorithm.

Spark-first shape: a browser cookie store is tiny (10²-10⁴ rows), so
it compiles to a LITERAL array-of-structs column; matching + header
rendering are higher-order array functions — pure JVM expression
work, zero shuffles, zero Python, embarrassingly parallel at any
frontier size. The Cookie header lands in ``request_headers`` where
both the simulated and the real HTTP transport already read headers.

RFC 6265 semantics implemented:
- §5.1.3 domain-match: exact host match always; suffix match
  (``host`` ends with ``"." + domain``) unless the cookie is
  host-only.
- §5.1.4 path-match: exact; or cookie-path ends in "/" and is a
  prefix; or it is a prefix and the next request-path char is "/".
- §5.4 secure: secure cookies only over https.
- §5.4.2 ordering: longer cookie-path first, then store order.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column
from pyspark.sql import functions as F

from flyscrape_spark.functions.urls import host_of, path_of, scheme_of


@dataclass(frozen=True)
class Cookie:
    name: str
    value: str
    domain: str
    path: str = "/"
    secure: bool = False
    # host-only cookies (set without a Domain attribute) match the
    # exact host, never subdomains (RFC 6265 §5.1.3 / §5.3 step 6)
    host_only: bool = False

    def normalized(self) -> "Cookie":
        d = self.domain.lower().lstrip(".")
        p = self.path if self.path.startswith("/") else "/" + self.path
        return Cookie(self.name, self.value, d, p, self.secure, self.host_only)


def _store_literal(cookies: list[Cookie]) -> Column:
    entries = []
    for c in (c.normalized() for c in cookies):
        entries.append(
            F.struct(
                F.lit(c.name).alias("name"),
                F.lit(c.value).alias("value"),
                F.lit(c.domain).alias("domain"),
                F.lit(c.path).alias("path"),
                F.lit(c.secure).alias("secure"),
                F.lit(c.host_only).alias("host_only"),
            )
        )
    return F.array(*entries)


def cookie_header(cookies: list[Cookie], url: Column | str = "url") -> Column:
    """The ``Cookie`` request-header value for each row's URL (empty
    string when nothing matches). All JVM-side expressions."""
    u = F.col(url) if isinstance(url, str) else url
    host = host_of(u)
    scheme = scheme_of(u)
    path = F.coalesce(path_of(u), F.lit("/"))
    path = F.when(path == "", "/").otherwise(path)

    def domain_match(c):
        return (host == c["domain"]) | (
            (~c["host_only"]) & host.endswith(F.concat(F.lit("."), c["domain"]))
        )

    def path_match(c):
        pref = path.startswith(c["path"])
        return (
            (path == c["path"])
            | (pref & c["path"].endswith("/"))
            | (pref & (F.substring(path, F.length(c["path"]) + 1, 1) == "/"))
        )

    def secure_ok(c):
        return (~c["secure"]) | (scheme == "https")

    matched = F.filter(
        _store_literal(cookies),
        lambda c: domain_match(c) & path_match(c) & secure_ok(c),
    )
    # RFC 6265 §5.4.2: longer paths first; ties keep store order.
    # array_sort is stable on equal keys, so sorting by -len(path)
    # alone preserves insertion order within a path length.
    ordered = F.array_sort(
        matched, lambda a, b: F.length(b["path"]) - F.length(a["path"])
    )
    return F.array_join(
        F.transform(ordered, lambda c: F.concat(c["name"], F.lit("="), c["value"])),
        "; ",
    )


def with_cookie_header(frontier, cookies: list[Cookie], url: str = "url"):
    """Merge the matched Cookie header into ``request_headers`` (added
    if absent). Rows with no matching cookie keep their headers
    untouched — the reference adds no Cookie header either when the
    store has no match (cookies.go:52-57 adds only matches)."""
    hdr = cookie_header(cookies, url)
    base = (
        F.col("request_headers")
        if "request_headers" in frontier.columns
        else F.create_map().cast("map<string,string>")
    )
    merged = F.when(hdr == "", base).otherwise(
        F.map_concat(
            F.map_filter(base, lambda k, _: k != "Cookie"),
            F.create_map(F.lit("Cookie"), hdr),
        )
    )
    return frontier.withColumn("request_headers", merged)
