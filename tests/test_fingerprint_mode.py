"""CrawlConfig.seen_fingerprint — the 16-byte-key seen set (scale
mode). Pins: (a) kernel-level anti-join equality with the exact
(url_key, url) string-tiebreak join, (b) full-engine crawl equality
(seen set, discovery order, fetched results) on a fixture web,
(c) the fingerprint plan shuffles NO string column through the
anti-join."""

from pyspark.sql import functions as F

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.plans.frontier import CrawlEngine
from flyscrape_spark.sources.transport import JoinTransport


def _pages(spark):
    rows = [("http://s.test/", "s.test", 200,
             '<a href="/a">a</a><a href="/b">b</a><a href="/a">dup</a>')]
    for leaf in ("a", "b"):
        rows.append((f"http://s.test/{leaf}", "s.test", 200,
                     f'<p>{leaf}</p><a href="/">up</a><a href="/c">c</a>'))
    rows.append(("http://s.test/c", "s.test", 200, "<p>c</p>"))
    return spark.createDataFrame(
        rows, "url string, host string, status int, html string")


def test_engine_equality_exact_vs_fingerprint(spark):
    pages = _pages(spark)
    outs = {}
    for fp in (False, True):
        cfg = CrawlConfig(depth=3, seen_fingerprint=fp)
        r = CrawlEngine(spark, cfg, JoinTransport(pages, cfg)).run(
            ["http://s.test/"])
        outs[fp] = (
            [tuple(x) for x in r.seen.select(
                "url", "depth", "discovery_order")
             .orderBy("discovery_order").collect()],
            sorted(x["url"] for x in r.results.select("url").collect()),
        )
    assert outs[False] == outs[True]
    assert len(outs[True][0]) == 4  # /, /a, /b, /c


def test_kernel_antijoin_equality(spark):
    from flyscrape_spark.functions.urls import canonicalize
    from flyscrape_spark.sources.synth import synthetic_frontier

    frontier = synthetic_frontier(spark, 50_000, n_hosts=97, skew=3.0)
    canon = canonicalize(F.col("url"))
    seen_exact = frontier.filter(F.col("id") % 2 == 0).select(
        F.xxhash64(canon).alias("seen_key"), F.col("url").alias("seen_url"))
    seen_fp = frontier.filter(F.col("id") % 2 == 0).select(
        F.xxhash64(canon).alias("seen_key"),
        F.xxhash64(canon, F.lit(1)).alias("seen_key2"))
    cand = (frontier
            .withColumn("url_key", F.xxhash64(canon))
            .withColumn("url_key2", F.xxhash64(canon, F.lit(1))))
    new_exact = cand.join(
        seen_exact,
        (cand["url_key"] == seen_exact["seen_key"])
        & (cand["url"] == seen_exact["seen_url"]), "left_anti")
    new_fp = cand.join(
        seen_fp,
        (cand["url_key"] == seen_fp["seen_key"])
        & (cand["url_key2"] == seen_fp["seen_key2"]), "left_anti")
    ids_exact = {r["id"] for r in new_exact.select("id").collect()}
    ids_fp = {r["id"] for r in new_fp.select("id").collect()}
    assert ids_exact == ids_fp
    assert len(ids_fp) == 25_000


def test_fingerprint_join_shuffles_no_strings(spark):
    """The point of the mode: the anti-join's shuffle carries two
    longs, never the URL string. Assert on the executed plan: the
    Exchange feeding the join hashes url_key/url_key2 only, and the
    join condition contains no string column."""
    from flyscrape_spark.functions.urls import canonicalize
    from flyscrape_spark.sources.synth import synthetic_frontier

    frontier = synthetic_frontier(spark, 10_000)
    canon = canonicalize(F.col("url"))
    seen = frontier.filter(F.col("id") % 2 == 0).select(
        F.xxhash64(canon).alias("seen_key"),
        F.xxhash64(canon, F.lit(1)).alias("seen_key2"))
    cand = (frontier
            .withColumn("url_key", F.xxhash64(canon))
            .withColumn("url_key2", F.xxhash64(canon, F.lit(1))))
    new = cand.join(
        seen,
        (cand["url_key"] == seen["seen_key"])
        & (cand["url_key2"] == seen["seen_key2"]), "left_anti")
    pruned = new.select("url_key")  # count()-style key-only consumer
    pruned.collect()
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    import re
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "url#" not in m.group(1) and "seen_url" not in m.group(1), m.group(0)
    join = [l for l in plan.splitlines() if "SortMergeJoin" in l or
            "ShuffledHashJoin" in l or "BroadcastHashJoin" in l]
    assert join and all("url#" not in l and "seen_url" not in l for l in join)
