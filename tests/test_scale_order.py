"""Scale-mode machinery: two-phase global ordering (no single-task
sort), throughput-mode engine equivalence, deep-crawl seen-set
compaction."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.plans.frontier import (
    CrawlEngine, assign_global_order_counted,
)
from flyscrape_spark.sources.fixtures import SCENARIOS
from flyscrape_spark.sources.transport import JoinTransport


def test_assign_global_order_matches_window(spark):
    df = spark.range(10_000).select(
        (F.col("id") * 2654435761 % 9973).alias("parent_order"),
        (F.col("id") % 7).cast("int").alias("pos"),
        F.col("id").alias("payload"),
    ).withColumn("parent_order", F.col("parent_order") * 10 + F.col("pos"))
    # unique sort keys required (and present: parent_order built unique)
    two_phase, _ = assign_global_order_counted(
        df, ["parent_order", "pos"], "n", start=100, parts=8,
        bounds=(0, 99730),
    )
    w = Window.orderBy("parent_order", "pos")
    windowed = df.withColumn("n", F.row_number().over(w) - 1 + F.lit(100))
    got = {(r["payload"], r["n"]) for r in two_phase.collect()}
    want = {(r["payload"], r["n"]) for r in windowed.collect()}
    assert got == want


def canonical(result):
    return [
        (r["depth"], r["discovery_order"], r["url"])
        for r in result.seen.orderBy("discovery_order").collect()
    ]


def test_throughput_mode_equals_latency_mode(spark):
    scenario = SCENARIOS["depth_cycle"]
    default = CrawlEngine(spark, scenario.config, scenario.transport(spark)).run(
        scenario.seeds
    )
    # force throughput mode (AQE, full partitions, two-phase ordering)
    # on every generation regardless of size
    forced = CrawlEngine(
        spark, scenario.config, scenario.transport(spark),
        small_generation_rows=0,
    ).run(scenario.seeds)
    assert canonical(forced) == canonical(default)


def test_deep_crawl_compacts_seen(spark):
    # a 25-page chain: page i -> page i+1; depth 20 crosses the
    # 16-frame compaction boundary
    rows = [
        (f"http://c.test/{i}", "c.test", 200,
         f'<a href="/{i + 1}">next</a>')
        for i in range(25)
    ]
    pages = spark.createDataFrame(
        rows, "url string, host string, status int, html string"
    )
    config = CrawlConfig(depth=20, domain_filter=False)
    r = CrawlEngine(spark, config, JoinTransport(pages, config)).run(
        ["http://c.test/0"]
    )
    seen = canonical(r)
    # seeds + one new URL per generation, depth inclusive: 0..21 seen
    # (donâ€™t fetch past 20, but 21 is enqueued+seen)
    assert [s[0] for s in seen] == list(range(22))
    assert [s[1] for s in seen] == list(range(22))
    assert r.results.filter("status = 200").count() == 21


def test_bucketed_order_matches_window_any_bounds(spark):
    """Deterministic-bucket mode (round-5): exact order for GOOD
    bounds, and for BAD bounds too — bounds only steer balance, the
    clamped monotonic bucketing can never reorder."""
    df = spark.range(5_000).select(
        (F.col("id") * 2654435761 % 9973 * 10).alias("parent_order"),
        (F.col("id") % 7).cast("int").alias("pos"),
        F.col("id").alias("payload"),
    ).withColumn("parent_order", F.col("parent_order") + F.col("pos"))
    w = Window.orderBy("parent_order", "pos")
    want = {
        (r["payload"], r["n"])
        for r in df.withColumn(
            "n", F.row_number().over(w) - 1 + F.lit(7)
        ).collect()
    }
    n_rows = df.count()
    for bounds in [(0, 99730), (50, 60), (-1000, -5), (99999, 999999)]:
        got_df, total = assign_global_order_counted(
            df, ["parent_order", "pos"], "n", start=7, parts=8,
            bounds=bounds,
        )
        got = {(r["payload"], r["n"]) for r in got_df.collect()}
        assert got == want, f"order mismatch for bounds={bounds}"
        assert total == n_rows


def test_counted_total_matches_rows(spark):
    df = spark.range(999).select(
        F.col("id").alias("parent_order"),
        F.lit(0).cast("int").alias("pos"),
    )
    out, total = assign_global_order_counted(
        df, ["parent_order", "pos"], "ord", start=0, parts=4,
        bounds=(0, 999),
    )
    assert total == 999
    assert out.count() == 999
