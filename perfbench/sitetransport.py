"""Benchmark-side transport for the ``durable_polite_crawl`` workload.

It serves three kinds of URL, all as JVM expressions (no Python per row):

- ``/robots.txt`` on every host: :data:`perfbench.webgraph.ROBOTS_BODY`,
  one ``Disallow`` prefix;
- rich ``/p/N`` and ``/private/N`` pages: about 6 KB of interleaved text
  and image blocks with the links :func:`perfbench.webgraph.rich_links`
  models;
- ``/d/N`` pages: the page ``SyntheticWebTransport`` serves for the
  same URL, byte for byte.

It renders ``/d/N`` pages itself instead of calling
``SyntheticWebTransport.fetch``, for two reasons. That fetch casts the
``/d/(\\d+)$`` capture to bigint for every row, and under Spark 4's
ANSI mode the empty capture of any other URL (``/robots.txt``
included, which ``respect_robots`` probes) raises
``CAST_INVALID_INPUT``. And it builds its columns anew on every call,
about a thousand py4j calls each time; this transport builds its
columns once and reuses them, so the crawl's driver time is the
engine's, not the benchmark's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flyscrape_spark.sources.transport import Transport

from perfbench import webgraph as wg

_D_URL = r"^https?://[^/]+/d/([0-9]+)$"
_RICH_URL = r"^https?://[^/]+/(?:p|private)/([0-9]+)$"
_LOREM = "Lorem ipsum dolor sit amet, consectetur adipiscing elit, sed do."


def _page_id(pattern: str, n_pages: int) -> tuple[F.Column, F.Column]:
    """(id, known) of the page the URL's capture names."""
    n = F.regexp_extract("url", pattern, 1).try_cast("bigint")
    return n, n.isNotNull() & (n < n_pages)


def _synth_html(i: F.Column, d_pages: int, branching: int) -> F.Column:
    """The body ``SyntheticWebTransport.fetch`` serves for page ``i``."""

    def url_of(expr):
        return F.concat(
            F.lit("http://w"), (expr % wg.SYNTH_HOSTS).cast("string"),
            F.lit(".example/d/"), expr.cast("string"),
        )

    anchors = [
        F.concat(F.lit('<a href="'), url_of((k * i + 2 * k + 1) % d_pages),
                 F.lit(f'">l{k}</a>'))
        for k in range(1, branching + 1)
    ]
    return F.concat(
        F.lit("<html><body><p>page "), i.cast("string"), F.lit("</p>"),
        *anchors, F.lit("</body></html>"),
    )


def _rich_html(n: F.Column, d_pages: int) -> F.Column:
    """Rich page ``n``: RICH_BLOCKS text+image blocks; the eight links
    sit in blocks 2, 7, ..., 37 in webgraph.rich_links order."""
    anchors = [
        F.concat(F.lit('<p>See <a href="/p/'), m.cast("string"),
                 F.lit('">related</a> pages.</p>'))
        for m in ((n * a + b) % wg.RICH_PAGES for a, b in wg.RICH_LINKS)
    ]
    a, b = wg.PRIVATE_LINK
    anchors.append(F.concat(
        F.lit('<p><a href="/private/'),
        ((n * a + b) % wg.RICH_PAGES).cast("string"),
        F.lit('">members only</a></p>')))
    d_id = (n * wg.DLINK_MUL + wg.DLINK_ADD) % d_pages
    anchors.append(F.concat(
        F.lit('<p>Elsewhere: <a href="http://w'),
        (d_id % wg.SYNTH_HOSTS).cast("string"), F.lit(".example/d/"),
        d_id.cast("string"), F.lit('">a directory</a></p>')))
    links = F.array(*anchors)
    ns = n.cast("string")
    blocks = F.transform(
        F.sequence(F.lit(0), F.lit(wg.RICH_BLOCKS - 1)),
        lambda i: F.concat(
            F.lit("<div><p>Block "), i.cast("string"), F.lit(" of page "),
            ns, F.lit(". " + _LOREM + "</p><img src=\"/img/"), ns,
            F.lit("-"), i.cast("string"), F.lit('.jpg"></div>'),
            F.when(i % 5 == 2, F.element_at(links, (i / 5).cast("int") + 1))
            .otherwise(F.lit("")),
        ),
    )
    return F.concat(
        F.lit("<html><head><title>Page "), ns,
        F.lit("</title></head><body>"), F.array_join(blocks, ""),
        F.lit("</body></html>"),
    )


def _served_columns(d_pages: int, branching: int) -> list[F.Column]:
    """status, body, error and attempts of every URL the transport knows."""
    d, d_known = _page_id(_D_URL, d_pages)
    n, rich = _page_id(_RICH_URL, wg.RICH_PAGES)
    robots = F.col("url").rlike(r"^https?://[^/]+/robots\.txt$")
    known = d_known | rich | robots
    return [
        F.when(known, 200).otherwise(0).alias("status"),
        F.when(d_known, _synth_html(d, d_pages, branching))
        .when(robots, F.lit(wg.ROBOTS_BODY))
        .when(rich, _rich_html(n, d_pages)).alias("body"),
        F.when(~known, F.lit("Get: no such host")).cast("string").alias("error"),
        F.lit(1).alias("attempts"),
    ]


class SiteTransport(Transport):
    """robots.txt + rich pages + ``/d/N`` synthetic pages."""

    def __init__(self, d_pages: int, branching: int = 8):
        self._served = _served_columns(d_pages, branching)

    def fetch(self, frontier: DataFrame) -> DataFrame:
        return frontier.select("*", *self._served)
