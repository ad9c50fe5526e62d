"""Table-mode seeds + body-slimmed checkpoints (round 5).

CrawlEngine.run accepts the seed list as a DataFrame (url,
parent_order) — the 10^10-scale form, where the seed list is itself a
table and must not serialize through the driver. Contract: identical
seen set, discovery order, and results vs list-mode seeds, including
the urlfilter seeds-always-pass exemption (expressed as a depth==0
predicate in table mode; urlfilter.go:57-100 semantics) and the
domain filter's seeds'-hosts allowlist (domainfilter.go:32-43).

Also pins the body-slimming contract: generation checkpoints drop the
raw HTML body once spans/links are computed (results never carry
body/has_body unless keep_body), and respect_meta_robots keeps the
body internally so the noindex results filter still works.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.functions.urls import TRIM_SPACE
from flyscrape_spark.oracle import crawl_oracle
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.synth import SyntheticWebTransport
from flyscrape_spark.sources.transport import JoinTransport

N_PAGES = 3000
N_SEEDS = 40


def _seed_urls() -> list[str]:
    return [f"http://w{(i * 37) % 1009}.example/d/{i * 37}"
            for i in range(N_SEEDS)]


def _seed_frame(spark):
    return spark.range(N_SEEDS).select(
        F.concat(
            F.lit("http://w"), ((F.col("id") * 37) % 1009).cast("string"),
            F.lit(".example/d/"), (F.col("id") * 37).cast("string"),
        ).alias("url"),
        F.col("id").alias("parent_order"),
    )


def _crawl(spark, seeds, n_seeds=None, **cfg_kwargs):
    config = CrawlConfig(depth=2, domain_filter=False,
                         seen_fingerprint=True, **cfg_kwargs)
    engine = CrawlEngine(
        spark, config, SyntheticWebTransport(N_PAGES),
        collect_metrics=False, small_generation_rows=10,
    )
    return engine.run(seeds, n_seeds=n_seeds) if n_seeds is not None \
        else engine.run(seeds)


def _ordered_seen(result):
    return [(r["url"], r["depth"], r["discovery_order"])
            for r in result.seen.orderBy("discovery_order").collect()]


def test_table_seeds_match_list_seeds(spark):
    r_list = _crawl(spark, _seed_urls())
    r_table = _crawl(spark, _seed_frame(spark), n_seeds=N_SEEDS)
    assert _ordered_seen(r_list) == _ordered_seen(r_table)
    assert r_list.results.count() == r_table.results.count()


def test_table_seeds_without_hint_counts(spark):
    # n_seeds omitted: the engine counts the frame itself; same result
    r_table = _crawl(spark, _seed_frame(spark))
    r_list = _crawl(spark, _seed_urls())
    assert _ordered_seen(r_list) == _ordered_seen(r_table)


def test_table_seeds_require_parent_order(spark):
    bad = spark.createDataFrame([("http://a.example/",)], "url string")
    config = CrawlConfig(depth=1, domain_filter=False)
    engine = CrawlEngine(spark, config, SyntheticWebTransport(10),
                         collect_metrics=False)
    with pytest.raises(ValueError, match="parent_order"):
        engine.run(bad)


def test_table_seed_url_filter_exemption(spark):
    """Seeds always pass urlfilter (urlfilter.go:57-100) in BOTH seed
    modes: a blocked_urls pattern matching a seed still fetches the
    seed, and blocks matching depth-1 links."""
    pages = spark.createDataFrame(
        [("http://s.test/blockme", "s.test", 200,
          '<a href="/blockme/child">c</a><a href="/ok">ok</a>'),
         ("http://s.test/blockme/child", "s.test", 200, "<p>child</p>"),
         ("http://s.test/ok", "s.test", 200, "<p>ok</p>")],
        "url string, host string, status int, html string",
    )
    for mode in ("list", "table"):
        config = CrawlConfig(depth=2, blocked_urls=["blockme"])
        engine = CrawlEngine(spark, config, JoinTransport(pages, config),
                             collect_metrics=False)
        if mode == "list":
            result = engine.run(["http://s.test/blockme"])
        else:
            seeds = spark.createDataFrame(
                [("http://s.test/blockme", 0)], "url string, parent_order long")
            result = engine.run(seeds, n_seeds=1)
        fetched = {r["url"] for r in result.results.collect()}
        # seed fetched despite matching the block pattern; child blocked
        assert fetched == {"http://s.test/blockme", "http://s.test/ok"}, mode
        # blocked child still marked seen (enqueue-marks-seen semantics)
        seen = {r["url"] for r in result.seen.collect()}
        assert "http://s.test/blockme/child" in seen, mode


def test_table_seed_domain_filter_hosts(spark):
    """Default domain filter allows exactly the seeds' hosts — in
    table mode those hosts are collected from the frame."""
    pages = spark.createDataFrame(
        [("http://a.test/", "a.test", 200,
          '<a href="http://b.test/x">b</a><a href="/in">in</a>'),
         ("http://a.test/in", "a.test", 200, "<p>in</p>"),
         ("http://b.test/x", "b.test", 200, "<p>off-domain</p>")],
        "url string, host string, status int, html string",
    )
    config = CrawlConfig(depth=2)  # domain_filter defaults on
    engine = CrawlEngine(spark, config, JoinTransport(pages, config),
                         collect_metrics=False)
    seeds = spark.createDataFrame(
        [("http://a.test/", 0)], "url string, parent_order long")
    result = engine.run(seeds, n_seeds=1)
    fetched = {r["url"] for r in result.results.collect()}
    assert fetched == {"http://a.test/", "http://a.test/in"}
    seen = {r["url"] for r in result.seen.collect()}
    assert "http://b.test/x" in seen  # enqueued (seen) but never fetched


def test_body_slim_results_schema(spark):
    r = _crawl(spark, _seed_urls()[:5])
    assert "body" not in r.results.columns
    assert "has_body" not in r.results.columns
    # spans still present and populated for fetched pages
    n_spans = r.results.filter(
        F.col("spans").isNotNull() & (F.size("spans") > 0)).count()
    assert n_spans > 0


def test_keep_body_retains_body(spark):
    config = CrawlConfig(depth=1, domain_filter=False)
    engine = CrawlEngine(spark, config, SyntheticWebTransport(100),
                         collect_metrics=False, keep_body=True)
    r = engine.run(["http://w0.example/d/0"])
    assert "body" in r.results.columns
    assert r.results.filter(F.col("body").isNotNull()).count() > 0


def test_meta_robots_keeps_body_for_noindex_filter(spark):
    """respect_meta_robots disables slimming so the noindex results
    filter can re-read the body: a noindex page is crawled (seen,
    links followed) but excluded from results."""
    pages = spark.createDataFrame(
        [("http://m.test/", "m.test", 200,
          '<meta name="robots" content="noindex">'
          '<a href="/kept">k</a>'),
         ("http://m.test/kept", "m.test", 200, "<p>kept</p>")],
        "url string, host string, status int, html string",
    )
    config = CrawlConfig(depth=2, domain_filter=False,
                         respect_meta_robots=True)
    engine = CrawlEngine(spark, config, JoinTransport(pages, config),
                         collect_metrics=False)
    r = engine.run(["http://m.test/"])
    urls = {row["url"] for row in r.results.collect()}
    assert urls == {"http://m.test/kept"}  # noindex page dropped
    seen = {row["url"] for row in r.seen.collect()}
    assert "http://m.test/" in seen  # but crawled + links followed


_HOST_SEEDS = ["http://a.test:8080/", "http://user:pw@a.test/",
               "http://user@A.TEST:8080/", "http://[::1]:8080/"]


@pytest.mark.parametrize("seeds", [
    *(pytest.param([seed], id=seed) for seed in _HOST_SEEDS),
    pytest.param(["http://a.test/\r"], id="trailing-cr"),
    pytest.param(["http://a.test/\t"], id="trailing-tab"),
    pytest.param(["http://a.test/\u00a0"], id="trailing-nbsp"),
    pytest.param(["", "http://a.test/"], id="empty-entry"),
    pytest.param(["http://a.test/", "http://a.test/"], id="duplicate"),
])
def test_list_and_table_seed_hosts_agree(spark, seeds):
    """List seeds, table seeds and the oracle give the same crawl. The
    default domain filter admits a seed's own host in BOTH seed modes,
    with the host taken as ``host_of`` takes it: port and userinfo
    stripped, lowercased, IPv6 brackets kept. Seeds are trimmed with
    Go's TrimSpace set, empties dropped and duplicates enqueued once,
    exactly as links are; a link whose href ends in U+00A0 is trimmed
    too. Same-host links are followed, an off-host link is seen but
    never fetched."""
    seed = next(s.strip(TRIM_SPACE) for s in seeds if s.strip(TRIM_SPACE))
    base = seed.rstrip("/")
    html = {
        seed: '<a href="/in">in</a><a href="/nb\u00a0">nb</a>'
              '<a href="http://b.test/x">b</a>',
        base + "/in": "<p>in</p>",
        base + "/nb": "<p>nb</p>",
        "http://b.test/x": "<p>off-domain</p>",
    }
    pages = spark.createDataFrame(
        [(u, 200, h) for u, h in html.items()],
        "url string, status int, html string",
    )
    config = CrawlConfig(depth=2)  # domain_filter defaults on

    def crawl(seeds, **kw):
        engine = CrawlEngine(spark, config, JoinTransport(pages, config),
                             collect_metrics=False)
        return engine.run(seeds, **kw)

    r_list = crawl(seeds)
    r_table = crawl(spark.createDataFrame(
        list(zip(seeds, range(len(seeds)))), "url string, parent_order long"),
        n_seeds=len(seeds))
    oracle = crawl_oracle(seeds, config,
                          lambda u: (200, html[u]) if u in html else None)
    assert _ordered_seen(r_list) == _ordered_seen(r_table) == [
        (u, d, o) for d, o, u in oracle.order]

    def results(r):
        return sorted((x["url"], x["status"], x["error"])
                      for x in r.results.collect())

    assert results(r_list) == results(r_table) == sorted(
        (r.url, r.status, r.error) for r in oracle.rows if r.fetched)
    assert {u for u, _, _ in results(r_list)} == {
        seed, base + "/in", base + "/nb"}
