"""The three crawl workloads. Each turns a seed into inputs, runs one
crawl through the public ``CrawlEngine`` API, and knows the reference
BFS its output must match. Why each workload exists: README.md."""

from __future__ import annotations

import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import SparkSession

from flyscrape_spark.config import CrawlConfig
from flyscrape_spark.plans.frontier import CrawlEngine, CrawlResult
from flyscrape_spark.sources.snapshots import SnapshotStore
from flyscrape_spark.sources.synth import SyntheticWebTransport, synthetic_web
from flyscrape_spark.sources.transport import JoinTransport, Transport

from perfbench import webgraph as wg
from perfbench.oracle import Expected, reference_bfs
from perfbench.sitetransport import SiteTransport


@dataclass
class Inputs:
    """Everything one workload hands the engine, built from the seed."""
    config: CrawlConfig
    transport: Transport
    model: wg.WebModel
    seed_urls: list[str]
    seeds: object  # list[str] or a (url, parent_order) DataFrame
    run_kwargs: dict = field(default_factory=dict)
    engine_kwargs: dict = field(default_factory=dict)


@dataclass
class Outcome:
    result: CrawlResult
    # perf_counter() when the resuming engine started (durable only)
    resume_start: float | None = None


class Workload:
    name = ""
    depth = 0
    # checkpoints go to a SnapshotStore (else in-memory localCheckpoints)
    snapshots = False
    # timed crawls per run, however short --seconds is
    min_crawls = 1

    def __init__(self, nproc: int):
        self.nproc = nproc

    def inputs(self, spark: SparkSession, seed: int, workdir: Path) -> Inputs:
        raise NotImplementedError

    def crawl(self, spark: SparkSession, inp: Inputs, store_dir: Path) -> Outcome:
        engine = CrawlEngine(spark, inp.config, inp.transport, **inp.engine_kwargs)
        return Outcome(engine.run(inp.seeds, **inp.run_kwargs))

    def expected(self, inp: Inputs) -> Expected:
        return reference_bfs(inp.model, inp.seed_urls, inp.config.depth,
                             inp.config.domain_filter)


class BulkBFS(Workload):
    """Random table seeds over a 2M-page expression-fetched web, depth 2,
    fingerprint keys + canonicalization, in-memory lazy checkpoints:
    per-URL frontier work dominates."""
    name = "bulk_bfs"
    depth = 2
    pages = 2_000_000
    n_seeds = 150

    def inputs(self, spark, seed, workdir):
        rng = random.Random(seed)
        urls = [wg.synth_url(i) for i in rng.sample(range(self.pages), self.n_seeds)]
        seeds = spark.createDataFrame(
            [(u, i) for i, u in enumerate(urls)], "url string, parent_order long")
        config = CrawlConfig(depth=self.depth, domain_filter=False,
                             seen_fingerprint=True, canonicalize=True)
        return Inputs(
            config=config,
            transport=SyntheticWebTransport(self.pages),
            model=wg.WebModel(self.pages),
            seed_urls=urls,
            seeds=seeds,
            run_kwargs={"n_seeds": len(urls)},
            engine_kwargs={"collect_metrics": False,
                           "small_generation_rows": 20_000},
        )


class DeepNarrowBFS(Workload):
    """One list seed, depth 8, JoinTransport over a small pinned
    branching-2 web, exact keys, default config: per-generation fixed
    cost dominates."""
    name = "deep_narrow_bfs"
    depth = 8
    pages = 20_000

    def inputs(self, spark, seed, workdir):
        rng = random.Random(seed)
        # one host, so the default domain filter keeps the whole web
        pages = synthetic_web(spark, self.pages, n_hosts=1, branching=2,
                              partitions=self.nproc).cache()
        pages.count()
        url = wg.synth_url(rng.randrange(self.pages), n_hosts=1)
        config = CrawlConfig(depth=self.depth)
        return Inputs(
            config=config,
            transport=JoinTransport(pages, config),
            model=wg.WebModel(self.pages, branching=2, d_hosts=1),
            seed_urls=[url],
            seeds=[url],
        )


class DurablePoliteCrawl(Workload):
    """Rich-page sites behind robots.txt plus a few synthetic seeds,
    domain filter on, SnapshotStore checkpoints; the crawl stops after
    its first generation and a fresh engine resumes it to completion."""
    name = "durable_polite_crawl"
    depth = 1
    snapshots = True
    # a single crawl is ~15 s of driver-side work whose time follows the
    # host's CPU steal of that moment; the median of two spans twice as
    # long a window of it
    min_crawls = 2
    d_pages = 2_000_000
    n_sites = 64
    seed_sites = 8
    rich_per_site = 6
    d_seeds = 4
    stop_after = 1

    def inputs(self, spark, seed, workdir):
        rng = random.Random(seed)
        sites = rng.sample(range(self.n_sites), self.seed_sites)
        urls = [f"http://site{s}.example/p/{rng.randrange(wg.RICH_PAGES)}"
                for s in sites for _ in range(self.rich_per_site)]
        urls += [wg.synth_url(rng.randrange(self.d_pages))
                 for _ in range(self.d_seeds)]
        config = CrawlConfig(depth=self.depth, domain_filter=True,
                             respect_robots=True)
        return Inputs(
            config=config,
            transport=SiteTransport(self.d_pages),
            model=wg.WebModel(self.d_pages, rich=True),
            seed_urls=urls,
            seeds=urls,
        )

    def crawl(self, spark, inp, store_dir):
        shutil.rmtree(store_dir, ignore_errors=True)
        CrawlEngine(spark, inp.config, inp.transport,
                    checkpoint=SnapshotStore(str(store_dir)),
                    max_generations=self.stop_after).run(inp.seeds)
        resume_start = time.perf_counter()
        result = CrawlEngine(spark, inp.config, inp.transport,
                             checkpoint=SnapshotStore(str(store_dir))).run(inp.seeds)
        return Outcome(result, resume_start)


WORKLOADS = {w.name: w for w in (BulkBFS, DeepNarrowBFS, DurablePoliteCrawl)}
