"""Belt-and-braces: every engine feature enabled at once — robots,
politeness-scheduled transport, snapshot checkpointing — must produce
the identical crawl as the bare engine."""

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.snapshots import SnapshotStore
from flyscrape_spark.sources.transport import JoinTransport, PoliteJoinTransport


def pages(spark):
    rows = [
        ("http://x.test/robots.txt", "x.test", 200,
         "User-agent: *\nDisallow: /private\nCrawl-delay: 1"),
        ("http://x.test/", "x.test", 200,
         '<a href="/a">a</a><a href="/private/p">p</a><a href="/b">b</a>'),
        ("http://x.test/a", "x.test", 200, '<a href="/b">b</a>'),
        ("http://x.test/b", "x.test", 200, "<p>leaf</p>"),
        ("http://x.test/private/p", "x.test", 200, "<p>never</p>"),
    ]
    return spark.createDataFrame(
        rows, "url string, host string, status int, html string"
    )


def canonical(result):
    return [
        (r["depth"], r["discovery_order"], r["url"])
        for r in result.seen.orderBy("discovery_order").collect()
    ]


def test_all_features_together(spark, tmp_path):
    config = CrawlConfig(depth=3, domain_filter=False, respect_robots=True,
                         rate=60_000.0)
    base = CrawlEngine(
        spark, config, JoinTransport(pages(spark), config)
    ).run(["http://x.test/"])

    full = CrawlEngine(
        spark, config,
        PoliteJoinTransport(pages(spark), config, shard_target=100),
        checkpoint=SnapshotStore(str(tmp_path / "snap")),
    ).run(["http://x.test/"])

    assert canonical(full) == canonical(base)
    fetched = {r["url"] for r in full.results.filter("status = 200").collect()}
    assert "http://x.test/private/p" not in fetched  # robots enforced
    assert {"http://x.test/", "http://x.test/a", "http://x.test/b"} <= fetched
    assert "fetch_time" in full.results.columns      # politeness schedule
    # snapshot manifests committed for every generation
    manifests = SnapshotStore(str(tmp_path / "snap")).manifests()
    assert len(manifests) == full.generations
