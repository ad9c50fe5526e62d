"""Reference BFS: a plain-Python FIFO crawl with the reference's
semantics (mark seen at enqueue, validators at fetch time), over the
links :class:`perfbench.webgraph.WebModel` computes, never over parsed
HTML.

Its result is what every timed crawl is checked against: the seen
count, the fetched count and an order-sensitive digest over the
``(url, depth, discovery_order)`` rows of seen and of the fetched
pages.
"""

from __future__ import annotations

import hashlib
from collections import deque
from collections.abc import Iterable
from dataclasses import dataclass
from urllib.parse import urlparse

from perfbench.webgraph import WebModel


@dataclass(frozen=True)
class Expected:
    n_seen: int
    n_fetched: int
    seen_digest: str
    fetched_digest: str
    # CrawlResult.generations: one per depth that enqueued URLs
    generations: int


def digest(rows: Iterable[tuple[str, int, int]]) -> str:
    """sha256 over ``url\\tdepth\\torder`` lines, in the given order."""
    h = hashlib.sha256()
    for url, depth, order in rows:
        h.update(f"{url}\t{depth}\t{order}\n".encode())
    return h.hexdigest()


def reference_bfs(model: WebModel, seeds: list[str], depth: int,
                  domain_filter: bool) -> Expected:
    """FIFO crawl of ``seeds`` to ``depth`` (inclusive). With
    ``domain_filter`` only seed hosts are fetched; robots rules come
    from ``model``. Every URL the benchmark generates is already in
    canonical form, so exact and canonical seen keys coincide."""
    hosts = {urlparse(s.strip()).netloc.lower() for s in seeds}
    seen: set[str] = set()
    order: list[tuple[str, int]] = []
    fetched: list[int] = []  # indices into ``order``
    queue: deque[int] = deque()

    def enqueue(url: str, d: int) -> None:
        if url and url not in seen:
            seen.add(url)
            queue.append(len(order))
            order.append((url, d))

    for s in seeds:
        enqueue(s.strip(), 0)
    while queue:
        idx = queue.popleft()
        url, d = order[idx]
        if d > depth:
            continue
        if domain_filter and urlparse(url).netloc.lower() not in hosts:
            continue
        if not model.allowed(url):
            continue
        fetched.append(idx)
        for link in model.links(url) or ():
            enqueue(link, d + 1)
    max_depth = max(d for _, d in order) if order else -1
    return Expected(
        n_seen=len(order),
        n_fetched=len(fetched),
        seen_digest=digest((u, d, i) for i, (u, d) in enumerate(order)),
        fetched_digest=digest(
            (order[i][0], order[i][1], i) for i in fetched),
        generations=max_depth + 1,
    )


def check(expected: Expected, seen_rows, fetched_rows) -> list[str]:
    """Compare one crawl's output with the reference. ``*_rows`` are
    pandas frames of (url, depth, discovery_order). Returns the list
    of mismatches (empty = the crawl is correct)."""
    problems = []
    seen_rows = seen_rows.sort_values("discovery_order", kind="stable")
    fetched_rows = fetched_rows.sort_values("discovery_order", kind="stable")
    if len(seen_rows) != expected.n_seen:
        problems.append(f"seen {len(seen_rows)} != {expected.n_seen}")
    if len(fetched_rows) != expected.n_fetched:
        problems.append(f"fetched {len(fetched_rows)} != {expected.n_fetched}")
    cols = ["url", "depth", "discovery_order"]
    if digest(seen_rows[cols].itertuples(index=False)) != expected.seen_digest:
        problems.append("seen digest differs")
    if (digest(fetched_rows[cols].itertuples(index=False))
            != expected.fetched_digest):
        problems.append("fetched digest differs")
    return problems
