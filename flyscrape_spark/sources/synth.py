"""Deterministic lazy synthetic-frontier generator (FIXTURES.md §Scale
generator). No external data, no materialization: ``spark.range`` plus
hash-derived columns, parameterizable up to the 10^10-URL frontier of
BASELINE.json (bench runs report actual rows processed, not
extrapolations).

Host distribution is Zipf-ish by construction: a uniform hash u in
[0,1) mapped through u^skew concentrates mass on low host ids, giving
the hot-host skew the politeness/salting machinery must handle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def synthetic_frontier(
    spark: SparkSession,
    n_urls: int,
    n_hosts: int = 10_000,
    skew: float = 3.0,
    depth: int = 0,
    partitions: int | None = None,
) -> DataFrame:
    """Lazy frontier of ``n_urls`` rows: (id, url, host, depth).

    skew=1 -> uniform hosts; skew=3 -> ~hot-host heavy (the heaviest
    host holds ~ skew/n_hosts^(1/skew) of all URLs).
    """
    rng = spark.range(0, n_urls, 1, partitions) if partitions else spark.range(n_urls)
    # uniform [0,1) from the id hash (deterministic, no rand() state)
    u = (F.xxhash64(F.col("id")).cast("double") / F.lit(float(2**64))) + F.lit(0.5)
    host_id = F.least(
        F.floor(F.pow(u, F.lit(float(skew))) * F.lit(n_hosts)).cast("bigint"),
        F.lit(n_hosts - 1),
    )
    return rng.select(
        F.col("id"),
        F.concat(
            F.lit("http://h"), host_id.cast("string"), F.lit(".example/p/"),
            F.col("id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("h"), host_id.cast("string"), F.lit(".example")).alias("host"),
        F.lit(depth).cast("int").alias("depth"),
    )


def synthetic_web(
    spark: SparkSession,
    n_pages: int,
    n_hosts: int = 1009,
    branching: int = 8,
    partitions: int | None = None,
) -> DataFrame:
    """Lazy synthetic web for FULL-ENGINE throughput runs:
    pages(url, host, status, html) where page i links to
    (k*i + 2k+1) % n for k in 1..branching — real anchors the link
    UDF must parse, deterministic so any run is reproducible."""
    rng = spark.range(0, n_pages, 1, partitions) if partitions else spark.range(n_pages)
    i = F.col("id")

    def url_of(expr):
        return F.concat(
            F.lit("http://w"), (expr % n_hosts).cast("string"),
            F.lit(".example/d/"), expr.cast("string"),
        )

    anchors = [
        F.concat(F.lit('<a href="'), url_of((k * i + 2 * k + 1) % n_pages),
                 F.lit(f'">l{k}</a>'))
        for k in range(1, branching + 1)
    ]
    return rng.select(
        url_of(i).alias("url"),
        F.concat(F.lit("w"), (i % n_hosts).cast("string"), F.lit(".example")).alias("host"),
        F.lit(200).alias("status"),
        F.concat(
            F.lit("<html><body><p>page "), i.cast("string"), F.lit("</p>"),
            *anchors, F.lit("</body></html>"),
        ).alias("html"),
    )


class SyntheticWebTransport:
    """Fetch over the :func:`synthetic_web` graph WITHOUT a join: the
    page id is parsed back out of the URL and the html is regenerated
    as a JVM expression — per-row cost proportional to the frontier,
    like a real HTTP fetch, with zero table scan/shuffle artifacts.
    Used by the full-engine throughput bench so measured cost is
    engine machinery + parse, not simulation overhead."""

    def __init__(self, n_pages: int, n_hosts: int = 1009, branching: int = 8):
        self.n_pages = n_pages
        self.n_hosts = n_hosts
        self.branching = branching

    def fetch(self, frontier: DataFrame) -> DataFrame:
        # try_cast: a URL without /d/N (e.g. the /robots.txt probe)
        # extracts "", which a plain cast rejects under ANSI mode
        i = F.regexp_extract("url", r"/d/(\d+)$", 1).try_cast("bigint")
        known = i.isNotNull() & (i >= 0) & (i < self.n_pages)

        def url_of(expr):
            return F.concat(
                F.lit("http://w"), (expr % self.n_hosts).cast("string"),
                F.lit(".example/d/"), expr.cast("string"),
            )

        anchors = [
            F.concat(F.lit('<a href="'),
                     url_of((k * i + 2 * k + 1) % self.n_pages),
                     F.lit(f'">l{k}</a>'))
            for k in range(1, self.branching + 1)
        ]
        html = F.concat(
            F.lit("<html><body><p>page "), i.cast("string"), F.lit("</p>"),
            *anchors, F.lit("</body></html>"),
        )
        return (
            frontier.withColumn("status", F.when(known, 200).otherwise(0))
            .withColumn("body", F.when(known, html))
            .withColumn("error",
                        F.when(~known, F.lit("Get: no such host")).cast("string"))
            .withColumn("attempts", F.lit(1))
        )
