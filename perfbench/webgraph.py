"""Pure-Python model of the benchmark's generated webs.

Two page families, both deterministic functions of the URL:

- ``/d/N`` pages of :func:`flyscrape_spark.sources.synth.synthetic_web`
  (and ``SyntheticWebTransport``): page N links to
  ``(k*N + 2k + 1) % n_pages`` for k in 1..branching, on host
  ``w{id % n_hosts}.example``.
- rich ``/p/N`` pages served by :class:`perfbench.sitetransport.SiteTransport`:
  about 6 KB of interleaved text and image blocks, six root-relative
  ``/p/M`` links, one root-relative ``/private/M`` link (the prefix the
  sites' robots.txt disallows) and one absolute ``/d/X`` link.

The reference BFS (:mod:`perfbench.oracle`) follows links from this
model, never from parsed HTML, so it is independent of the engine's
parse layer. :mod:`perfbench.sitetransport` renders the same links as
Spark expressions; the tiny-web test pins the two together.
"""

from __future__ import annotations

import re

SYNTH_HOSTS = 1009

# rich-page site shape
RICH_PAGES = 10_000
RICH_BLOCKS = 40
# (multiplier, offset) of the six /p/ links and the one /private/ link
RICH_LINKS = ((3, 1), (7, 11), (11, 29), (13, 47), (17, 71), (19, 97))
PRIVATE_LINK = (23, 5)
# the absolute /d/ link: X = (N * DLINK_MUL + DLINK_ADD) % d_pages
DLINK_MUL, DLINK_ADD = 7919, 13
ROBOTS_DISALLOW = "/private/"
ROBOTS_BODY = f"User-agent: *\nDisallow: {ROBOTS_DISALLOW}\n"

_URL_RE = re.compile(r"^(https?://[^/]+)(/.*)?$")
_D_RE = re.compile(r"^/d/(\d+)$")
_RICH_RE = re.compile(r"^/(?:p|private)/(\d+)$")


def synth_url(i: int, n_hosts: int = SYNTH_HOSTS) -> str:
    return f"http://w{i % n_hosts}.example/d/{i}"


def synth_links(i: int, n_pages: int, branching: int,
                n_hosts: int = SYNTH_HOSTS) -> list[str]:
    return [synth_url((k * i + 2 * k + 1) % n_pages, n_hosts)
            for k in range(1, branching + 1)]


def rich_links(origin: str, n: int, d_pages: int) -> list[str]:
    """Resolved links of rich page ``n`` served at ``origin``
    (scheme://host), in document order: /p/ links, then the /private/
    link, then the /d/ link (the order :mod:`perfbench.sitetransport`
    renders them in)."""
    private = (n * PRIVATE_LINK[0] + PRIVATE_LINK[1]) % RICH_PAGES
    d_id = (n * DLINK_MUL + DLINK_ADD) % d_pages
    return ([f"{origin}/p/{(n * a + b) % RICH_PAGES}" for a, b in RICH_LINKS]
            + [f"{origin}/private/{private}", synth_url(d_id)])


class WebModel:
    """Outlinks and robots rules of a benchmark web.

    ``d_pages``/``branching``/``d_hosts`` describe the /d/ family;
    ``rich=True`` adds the rich /p/ family and a robots.txt that
    disallows :data:`ROBOTS_DISALLOW` on every host."""

    def __init__(self, d_pages: int, branching: int = 8,
                 d_hosts: int = SYNTH_HOSTS, rich: bool = False):
        self.d_pages = d_pages
        self.branching = branching
        self.d_hosts = d_hosts
        self.rich = rich

    def links(self, url: str) -> list[str] | None:
        """Followed links of ``url`` in page order with first-seen
        dedup, or None when the page does not exist (transport error:
        no body, no links)."""
        m = _URL_RE.match(url)
        if not m:
            return None
        origin, path = m.group(1), m.group(2) or "/"
        d = _D_RE.match(path)
        if d:
            i = int(d.group(1))
            if i >= self.d_pages:
                return None
            out = synth_links(i, self.d_pages, self.branching, self.d_hosts)
        elif self.rich and (r := _RICH_RE.match(path)):
            n = int(r.group(1))
            if n >= RICH_PAGES:
                return None
            out = rich_links(origin, n, self.d_pages)
        else:
            return None
        return list(dict.fromkeys(out))

    def allowed(self, url: str) -> bool:
        """robots.txt verdict for ``url`` (always True without robots)."""
        if not self.rich:
            return True
        m = _URL_RE.match(url)
        path = (m.group(2) if m else None) or "/"
        return not path.startswith(ROBOTS_DISALLOW)
