"""robots.txt compliance (RFC 9309) — engine-only capability; the
reference has no robots support, so these semantics are pinned here
rather than against reference tests."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.operators.politeness import schedule
from flyscrape_spark.operators.robots import is_allowed, parse_robots
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.synth import SyntheticWebTransport, synthetic_web
from flyscrape_spark.sources.transport import JoinTransport

ROBOTS = """
# comment
User-agent: googlebot
Disallow: /

User-agent: *
Disallow: /private/
Disallow: /tmp
Allow: /private/ok
Crawl-delay: 2.5
"""


def test_parse_group_selection():
    rules, delay = parse_robots(ROBOTS, agent="flyscrape")
    assert delay == 2.5
    pats = [(r["allow"], r["pattern"]) for r in rules]
    # sorted longest-first, Allow wins ties
    assert pats == [(True, "/private/ok"), (False, "/private/"), (False, "/tmp")]


def test_parse_specific_agent_overrides_star():
    rules, _ = parse_robots(ROBOTS, agent="googlebot-images")
    assert [(r["allow"], r["pattern"]) for r in rules] == [(False, "/")]


def test_precedence_longest_match_wins():
    rules, _ = parse_robots(ROBOTS)
    assert not is_allowed(rules, "/private/x")
    assert is_allowed(rules, "/private/ok/page")  # Allow is longer
    assert not is_allowed(rules, "/tmp/a")
    assert is_allowed(rules, "/public")


def test_wildcards_and_anchor():
    rules, _ = parse_robots("User-agent: *\nDisallow: /*.pdf$\nDisallow: /a*/b\n")
    assert not is_allowed(rules, "/doc/x.pdf")
    assert is_allowed(rules, "/doc/x.pdf?dl=1")  # $ anchors the end
    assert not is_allowed(rules, "/all/b")
    assert is_allowed(rules, "/a")


def test_empty_disallow_and_missing_body_allow_all():
    assert parse_robots("User-agent: *\nDisallow:\n") == ([], None)
    assert parse_robots(None) == ([], None)
    assert is_allowed([], "/anything")


@pytest.fixture
def robots_pages(spark):
    rows = [
        ("http://a.test/robots.txt", "a.test", 200,
         "User-agent: *\nDisallow: /blocked\nCrawl-delay: 3"),
        ("http://a.test/", "a.test", 200,
         '<a href="/blocked/x">b</a><a href="/open/y">o</a>'
         '<a href="http://b.test/z">c</a>'),
        ("http://a.test/open/y", "a.test", 200, "<p>open</p>"),
        ("http://a.test/blocked/x", "a.test", 200, "<p>never fetched</p>"),
        # b.test has no robots.txt -> allow-all (RFC 9309 2.3.1)
        ("http://b.test/z", "b.test", 200, "<p>z</p>"),
    ]
    return spark.createDataFrame(
        rows, "url string, host string, status int, html string"
    )


def test_crawl_respects_robots(spark, robots_pages):
    config = CrawlConfig(depth=2, domain_filter=False, respect_robots=True)
    engine = CrawlEngine(spark, config, JoinTransport(robots_pages, config))
    r = engine.run(["http://a.test/"])

    fetched = {row["url"] for row in r.results.filter("status = 200").collect()}
    assert "http://a.test/open/y" in fetched
    assert "http://b.test/z" in fetched            # no robots -> allowed
    assert "http://a.test/blocked/x" not in fetched

    # validator semantics: blocked URL is still marked seen at enqueue
    seen = {row["url"] for row in r.seen.collect()}
    assert "http://a.test/blocked/x" in seen

    # crawl-delay surfaced per host
    delays = {row["host"]: row["crawl_delay"] for row in r.robots.collect()}
    assert delays["a.test"] == 3.0
    assert delays["b.test"] is None


def test_polite_transport_crawl(spark, robots_pages):
    """Full crawl through PoliteJoinTransport: same crawl semantics as
    JoinTransport, plus per-host fetch_time pacing that honors the
    robots crawl-delay the engine discovers mid-crawl."""
    from flyscrape_spark.sources.transport import PoliteJoinTransport

    config = CrawlConfig(depth=2, domain_filter=False, respect_robots=True,
                         rate=60.0)  # 1s baseline interval
    polite = PoliteJoinTransport(robots_pages, config, shard_target=100)
    r = CrawlEngine(spark, config, polite).run(["http://a.test/"])

    plain = CrawlEngine(
        spark, config, JoinTransport(robots_pages, config)
    ).run(["http://a.test/"])
    key = lambda res: sorted(
        (row["url"], row["depth"], row["discovery_order"])
        for row in res.seen.collect()
    )
    assert key(r) == key(plain)
    assert "fetch_time" in r.results.columns


def test_crawl_delay_feeds_scheduler(spark, robots_pages):
    frontier = spark.createDataFrame(
        [(f"http://a.test/p{i}", "a.test", i) for i in range(4)]
        + [(f"http://b.test/p{i}", "b.test", 10 + i) for i in range(4)],
        "url string, host string, discovery_order long",
    )
    delays = spark.createDataFrame(
        [("a.test", 3.0), ("b.test", None)], "host string, crawl_delay double"
    )
    # rate=60/min -> 1s interval; a.test must stretch to 3s
    out = schedule(frontier, rate_per_min=60.0, shard_target=100, host_delays=delays)
    pdf = out.toPandas().sort_values(["host", "fetch_time"])
    a_times = pdf[pdf.host == "a.test"]["fetch_time"].tolist()
    b_times = pdf[pdf.host == "b.test"]["fetch_time"].tolist()
    assert min(pd.Series(a_times).diff().dropna()) >= 3.0
    assert min(pd.Series(b_times).diff().dropna()) >= 1.0


def test_synthetic_transport_robots_probe_is_unknown_page(spark):
    """A URL without /d/N (the robots.txt probe) comes back as an
    unknown page instead of failing the cast under ANSI mode; /d/N
    pages in the same frame render exactly as synthetic_web."""
    frame = spark.createDataFrame(
        [("http://w3.example/robots.txt",), ("http://w3.example/d/3",),
         ("http://w3.example/d/99999999999999999999",)], "url string")
    got = {r["url"]: r for r in
           SyntheticWebTransport(10).fetch(frame).collect()}
    probe = got["http://w3.example/robots.txt"]
    assert (probe["status"], probe["body"], probe["error"]) == (
        0, None, "Get: no such host")
    assert got["http://w3.example/d/99999999999999999999"]["status"] == 0
    page = got["http://w3.example/d/3"]
    want = synthetic_web(spark, 10).filter(F.col("url") == page["url"]).first()
    assert (page["status"], page["body"], page["error"]) == (
        200, want["html"], None)


def test_synthetic_transport_crawl_with_robots(spark):
    """respect_robots over the synthetic web: every robots.txt probe is
    an unknown page (allow-all), so the crawl equals the plain one."""
    seeds = [f"http://w{i}.example/d/{i}" for i in range(3)]

    def crawl(respect_robots):
        config = CrawlConfig(depth=1, respect_robots=respect_robots)
        r = CrawlEngine(spark, config, SyntheticWebTransport(50),
                        collect_metrics=False).run(seeds)
        return sorted((x["url"], x["depth"], x["discovery_order"])
                      for x in r.seen.collect())

    assert crawl(True) == crawl(False)
