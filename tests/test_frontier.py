"""Engine ≡ oracle: the distributed BFS frontier must reproduce the
sequential reference semantics exactly — URL-seen set, canonical crawl
order (depth, discovery_order), fetched set, error/attempt fields, and
per-doc span sequences (the BASELINE.json per-row invariant).
"""

import pytest

from flyscrape_spark.oracle import crawl_oracle
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.fixtures import SCENARIOS

ALL = sorted(SCENARIOS)


def run_engine(spark, scenario):
    from flyscrape_spark.parse.script import make_script_udf

    script_udf = (
        make_script_udf(scenario.script) if scenario.script is not None else None
    )
    engine = CrawlEngine(
        spark, scenario.config, scenario.transport(spark), script_udf=script_udf
    )
    return engine.run(scenario.seeds)


@pytest.mark.parametrize("name", ALL)
def test_engine_matches_oracle(spark, name):
    scenario = SCENARIOS[name]
    oracle = crawl_oracle(
        scenario.seeds, scenario.config, scenario.page_for, script=scenario.script
    )
    result = run_engine(spark, scenario)

    # 1. canonical crawl order over the seen set — byte-for-byte
    got_order = [
        (r["depth"], r["discovery_order"], r["url"])
        for r in result.seen.orderBy("discovery_order")
        .select("depth", "discovery_order", "url")
        .toLocalIterator()
    ]
    assert got_order == oracle.order, f"{name}: crawl order mismatch"

    # 2. fetched set + status/error/attempts
    got_fetched = {
        r["url"]: (r["status"], r["error"], r["attempts"])
        for r in result.results.select("url", "status", "error", "attempts").collect()
    }
    exp_fetched = {
        r.url: (r.status, r.error, r.attempts) for r in oracle.rows if r.fetched
    }
    assert got_fetched == exp_fetched, f"{name}: fetched set mismatch"

    # 3. per-row invariant: span-sequence equality (kind, text,
    #    media_ref, order) per doc (BASELINE.json input_hint)
    got_spans = {
        r["url"]: [
            (s["kind"], s["text"], s["media_ref"], s["offset"])
            for s in (r["spans"] or [])
        ]
        for r in result.results.select("url", "spans").collect()
    }
    for row in oracle.rows:
        if not row.fetched or row.error == "Get: no such host":
            continue
        expected = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in row.spans]
        assert got_spans[row.url] == expected, f"{name}: spans mismatch for {row.url}"

    # 4. scrape-script payload equality (manual-follow scenarios)
    if scenario.script is not None:
        got_data = {
            r["url"]: r["data"]
            for r in result.results.select("url", "data").collect()
        }
        for row in oracle.rows:
            if row.fetched:
                assert got_data[row.url] == row.data, f"{name}: data mismatch for {row.url}"


def test_seen_includes_filtered_urls(spark):
    """Dedup-at-enqueue (scrape.go:276-285): a URL dropped by a
    validator is still marked seen and never re-enqueued — SURVEY §7
    'easy to get wrong'."""
    scenario = SCENARIOS["domain_allow"]
    result = run_engine(spark, scenario)
    seen_urls = {r["url"] for r in result.seen.collect()}
    fetched_urls = {r["url"] for r in result.results.collect()}
    assert "http://www.duckduckgo.com" in seen_urls
    assert "http://www.duckduckgo.com" not in fetched_urls
    # and it was enqueued exactly once
    assert result.seen.filter("url = 'http://www.duckduckgo.com'").count() == 1


def test_duplicate_seeds_deduped(spark):
    scenario = SCENARIOS["follow_disabled"]
    engine = CrawlEngine(spark, scenario.config, scenario.transport(spark))
    result = engine.run([scenario.seeds[0], scenario.seeds[0], " ", ""])
    assert result.seen.count() == 1


def test_extraction_udf(spark):
    """User extraction spec analog of js_test.go:40-58."""
    from flyscrape_spark.parse.udfs import make_extract_udf

    scenario = SCENARIOS["extract_basic"]
    udf = make_extract_udf({"headline": ("h1", "text"), "body": ("p", "text")})
    engine = CrawlEngine(
        spark, scenario.config, scenario.transport(spark), extract_udf=udf
    )
    result = engine.run(scenario.seeds)
    import json

    row = result.results.select("data").collect()[0]
    assert json.loads(row["data"]) == {
        "body": "paragraph",
        "headline": "headline",
        "url": "https://localhost/",
    }


@pytest.mark.parametrize("flags", [
    {"domain_filter": False},
    {"domain_filter": True},
    {"domain_filter": True, "respect_robots": True},
], ids=["no-domain-filter", "domain-filter", "robots"])
def test_links_java_uri_rejects_crawl_like_oracle(spark, flags):
    """A space, '|' or '{' in a link makes java.net.URI reject the URL,
    and parse_url raises on it under ANSI mode. The host, domain and
    robots steps still take such URLs, and the crawl equals the oracle."""
    from flyscrape_spark.config import CrawlConfig
    from flyscrape_spark.sources.transport import JoinTransport

    pages = {
        "http://a.test/": '<a href="/a b">1</a><a href="/x|y">2</a>'
                          '<a href="/p?q={x}">3</a>',
        "http://a.test/a b": '<a href="/deep">d</a>',
        "http://a.test/x|y": "<p>x</p>",
        "http://a.test/p?q={x}": "<p>p</p>",
        "http://a.test/deep": "<p>deep</p>",
    }
    config = CrawlConfig(depth=2, **flags)
    frame = spark.createDataFrame(
        [(u, 200, html) for u, html in pages.items()],
        "url string, status int, html string")
    result = CrawlEngine(spark, config, JoinTransport(frame, config),
                         collect_metrics=False).run(["http://a.test/"])
    oracle = crawl_oracle(["http://a.test/"], config,
                          lambda u: (200, pages[u]) if u in pages else None)
    got = [(r["depth"], r["discovery_order"], r["url"])
           for r in result.seen.orderBy("discovery_order").collect()]
    assert got == oracle.order
    assert {r["url"] for r in result.results.collect()} == set(oracle.fetched)
    assert set(oracle.fetched) == set(pages)
