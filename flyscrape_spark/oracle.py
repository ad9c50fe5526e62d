"""Sequential single-threaded crawl oracle.

A direct, imperative transliteration of the reference's *semantics*
(NOT its code): FIFO queue, visited-at-enqueue, validators-at-fetch,
document-order link following. The engine's distributed output must
equal this oracle exactly (URL-seen set AND canonical order); the
oracle itself is pinned against hard-coded expectations lifted from
the reference's tests (FIXTURES.md scenario table).

Semantics sources:
- enqueue: TrimSpace, drop empty, visited check-and-mark
  (/root/reference/scrape.go:270-288)
- seeds in config order (modules/starturl/starturl.go:27-35)
- validators: depth inclusive <= (modules/depth/depth.go:26-28),
  domainfilter (modules/domainfilter/domainfilter.go:45-77),
  urlfilter (modules/urlfilter/urlfilter.go:57-100)
- fetch errors: non-2xx keeps body + follows links; transport error
  drops body (scrape.go:170-196)
- link extraction: shared parser (flyscrape_spark.parse.html), itself
  pinned to modules/followlinks/followlinks.go:37-94
"""

from __future__ import annotations

import re
from collections import deque
from dataclasses import dataclass, field
from urllib.parse import urlparse

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.functions.urls import TRIM_SPACE
from flyscrape_spark.parse.html import extract_links, extract_spans


@dataclass
class OracleRow:
    url: str
    depth: int
    discovery_order: int
    fetched: bool = False
    status: int = 0
    error: str | None = None
    attempts: int = 0
    spans: list[dict] = field(default_factory=list)
    links: list[str] = field(default_factory=list)
    data: str | None = None  # scrape-script JSON payload


@dataclass
class OracleResult:
    rows: list[OracleRow]  # every enqueued URL in canonical order

    @property
    def seen(self) -> list[str]:
        return [r.url for r in self.rows]

    @property
    def fetched(self) -> list[str]:
        return [r.url for r in self.rows if r.fetched]

    @property
    def order(self) -> list[tuple[int, int, str]]:
        return [(r.depth, r.discovery_order, r.url) for r in self.rows]


def _domain_ok(host: str, allowed: list[str], blocked: list[str]) -> bool:
    if not allowed and not blocked:
        return True
    ok = any(d == "*" or host == d for d in allowed)
    if any(host == d for d in blocked):
        ok = False
    return ok


def _url_ok(url: str, config: CrawlConfig, seed_urls: list[str]) -> bool:
    if not config.allowed_urls and not config.blocked_urls:
        return True
    if url in seed_urls:
        return True
    allowed, blocked = [], []
    for pat in config.allowed_urls:
        try:
            allowed.append(re.compile(pat))
        except re.error:
            pass
    for pat in config.blocked_urls:
        try:
            blocked.append(re.compile(pat))
        except re.error:
            pass
    if not allowed and not blocked:
        return True
    ok = not allowed or any(p.search(url) for p in allowed)
    if any(p.search(url) for p in blocked):
        ok = False
    return ok


def crawl_oracle(seeds, config: CrawlConfig, page_for, script=None) -> OracleResult:
    """``page_for(url) -> (status, html) | None`` (None = transport
    error / no such host). ``script``: optional Python scrape script
    (parse/script.py); its manual-follow URLs enqueue BEFORE the
    page's auto links — follow() fires during script execution
    (scrape.go:210-212), followlinks in the deferred ReceiveResponse
    (scrape.go:170-176)."""
    selectors = config.follow_selectors()
    seed_urls = [s.strip(TRIM_SPACE) for s in seeds if s.strip(TRIM_SPACE)]
    allowed_domains = list(config.allowed_domains) + [
        urlparse(u).netloc.lower() for u in seed_urls if urlparse(u).netloc
    ]
    if not config.domain_filter:
        allowed_domains = []
        blocked_domains = []
    else:
        blocked_domains = list(config.blocked_domains)

    visited: set[str] = set()
    queue: deque[OracleRow] = deque()
    rows: list[OracleRow] = []

    def enqueue(url: str, depth: int) -> None:
        url = url.strip(TRIM_SPACE)
        if not url or url in visited:
            return
        visited.add(url)
        row = OracleRow(url=url, depth=depth, discovery_order=len(rows))
        rows.append(row)
        queue.append(row)

    for seed in seed_urls:
        enqueue(seed, 0)

    n_attempts = len(config.retry_delays) + 1
    while queue:
        row = queue.popleft()
        if config.depth is not None and row.depth > config.depth:
            continue
        host = urlparse(row.url).netloc.lower()
        if not _domain_ok(host, allowed_domains, blocked_domains):
            continue
        if not _url_ok(row.url, config, seed_urls):
            continue
        row.fetched = True
        page = page_for(row.url)
        if page is None:
            row.status, row.error, row.attempts = 0, "Get: no such host", 1
            continue
        status, html = page
        row.status = status
        row.attempts = n_attempts if status in config.retry_statuses else 1
        if status < 200 or status >= 300:
            row.error = f"{status} error"
        row.spans = extract_spans(html)
        row.links = extract_links(html, row.url, selectors)
        if script is not None:
            from flyscrape_spark.parse.script import run_script

            row.data, follow_urls = run_script(script, html, row.url)
            for link in follow_urls:
                enqueue(link, row.depth + 1)
        for link in row.links:
            enqueue(link, row.depth + 1)

    return OracleResult(rows=rows)
